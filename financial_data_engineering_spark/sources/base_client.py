"""Driver-side REST source adapter: rate limiting, caching, retries,
telemetry — behavioral parity with the reference's BaseClient
(/root/reference/src/extractors/base_client.py:30-311), returning Spark
DataFrames.

Why driver-side: quota-bounded REST extraction is control-plane work — a
token bucket has to be a single point of coordination, and page N's URL
often depends on page N-1's response. The data plane starts where the
fetched JSON becomes a DataFrame: subclasses hand raw payload strings to
:meth:`json_to_df`, which parallelizes them and lets ``from_json`` +
Catalyst expressions do all flattening (schema projection, explode,
struct access) on executors. For sources whose request set is known up
front at real volume, fan the requests out instead with
``spark.sparkContext.parallelize(request_specs).mapPartitions(fetch)`` and
a per-task token budget of rate_limit/num_tasks.

Retry ladder (base_client.py:153-245 semantics):
- cache probe first (MD5 of url + sorted params, TTL expiry);
- token-bucket wait (rate_limit/60 tokens/s, blocking);
- HTTP GET, 30 s timeout;
- 429 → honour Retry-After header (default 5 s), retry without backoff;
- other 4xx → raise immediately (no retry);
- 5xx / ConnectionError → exponential backoff 2^attempt + U(0,1) jitter;
- retries exhausted → raise the last error.
"""

from __future__ import annotations

import hashlib
import json
import logging
import random
import threading
import time
from abc import ABC, abstractmethod
from datetime import datetime, timezone
from typing import Any

import requests
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.sources.result import ExtractionResult


def executor_get(
    sess, url: str, params: dict, attempts_acc=None, max_attempts: int = 4
):
    """Executor-side GET with the same retry ladder as the driver's
    :meth:`BaseClient._get` (429 → Retry-After; 4xx → raise immediately;
    5xx / ConnectionError → exponential backoff), minus cache and token
    bucket (fan-out tasks self-throttle instead). Books every attempt on
    ``attempts_acc`` so the driver can credit real HTTP counts into
    telemetry. Raises on attempt exhaustion: a lost request must fail the
    Spark task (and surface at the materializing action) rather than
    silently shrink the result."""
    import time as _time

    import requests as rq

    last_err: Exception | None = None
    for attempt in range(max_attempts):
        if attempts_acc is not None:
            attempts_acc.add(1)
        try:
            resp = sess.get(url, params=params, timeout=30)
        except rq.ConnectionError as exc:
            last_err = exc
            _time.sleep(2**attempt)
            continue
        if resp.status_code == 429:
            last_err = rq.HTTPError("429", response=resp)
            _time.sleep(int(resp.headers.get("Retry-After", 5)))
            continue
        if resp.status_code >= 500:
            last_err = rq.HTTPError(str(resp.status_code), response=resp)
            _time.sleep(2**attempt)
            continue
        resp.raise_for_status()  # other 4xx: non-retryable
        return resp.json()
    raise RuntimeError(
        f"all fetch attempts failed: {url} params={params}"
    ) from last_err


class BaseClient(ABC):
    """Abstract REST extraction client (one subclass per upstream API)."""

    #: requests per minute ceiling; subclasses override.
    rate_limit: int = 60

    @property
    @abstractmethod
    def source_name(self) -> str:
        """Short source identifier, e.g. ``'usgs'``."""

    @property
    @abstractmethod
    def base_url(self) -> str:
        """API root URL, no trailing slash."""

    @abstractmethod
    def extract(self, **kwargs) -> ExtractionResult:
        """Run the extraction. Never raises — failures come back as an
        ``ExtractionResult(success=False, error=...)`` (base_client
        lifecycle, usgs.py:58-68)."""

    def __init__(self, spark: SparkSession, cache_ttl: int = 300):
        self.spark = spark
        self._cache_ttl = cache_ttl
        self._session = requests.Session()
        self._session.headers.update(
            {
                "User-Agent": f"financial-data-engineering-spark/{self.source_name}",
                "Accept": "application/json",
            }
        )
        # Token bucket: starts full, refills continuously.
        self._bucket_lock = threading.Lock()
        self._bucket_level = float(self.rate_limit)
        self._bucket_stamp = time.monotonic()
        # key -> (payload, expiry_epoch)
        self._cache: dict[str, tuple[Any, float]] = {}
        self.api_calls = 0
        self.cache_hits = 0
        self.errors = 0
        self._latencies: list[float] = []
        self._log = logging.getLogger(f"sources.{self.source_name}")
        # fan-out bookkeeping: accumulators awaiting their materializing
        # action, actual executor HTTP attempts from the last extract,
        # and the last fan-out's task count (observability/tests).
        self._pending_fanout_accs: list = []
        self.fanout_http_attempts = 0
        self.last_fanout_partitions = 0

    # -- rate limiting --------------------------------------------------------

    def _wait_for_token(self) -> None:
        """Block until the token bucket grants one request
        (base_client.py:109-126 semantics: refill rate_limit/60 per second,
        poll every 50 ms)."""
        refill_per_s = self.rate_limit / 60.0
        while True:
            with self._bucket_lock:
                now = time.monotonic()
                self._bucket_level = min(
                    float(self.rate_limit),
                    self._bucket_level + (now - self._bucket_stamp) * refill_per_s,
                )
                self._bucket_stamp = now
                if self._bucket_level >= 1.0:
                    self._bucket_level -= 1.0
                    return
            time.sleep(0.05)

    # -- response cache -------------------------------------------------------

    def _cache_key(self, url: str, params: dict | None) -> str:
        """MD5 over url + JSON-canonicalized params (base_client.py:130-134)."""
        return hashlib.md5(
            f"{url}|{json.dumps(params or {}, sort_keys=True)}".encode()
        ).hexdigest()

    def _cache_get(self, key: str) -> Any | None:
        hit = self._cache.get(key)
        if hit is None:
            return None
        payload, expiry = hit
        if time.time() > expiry:
            del self._cache[key]
            return None
        return payload

    def _cache_set(self, key: str, payload: Any) -> None:
        self._cache[key] = (payload, time.time() + self._cache_ttl)

    # -- HTTP -----------------------------------------------------------------

    def _get(
        self,
        path: str,
        params: dict | None = None,
        max_retries: int = 3,
        use_cache: bool = True,
    ) -> Any:
        """GET with cache, rate limit, and the retry ladder; returns parsed
        JSON. Raises only non-retryable or retry-exhausted errors."""
        url = f"{self.base_url}{path}" if path.startswith("/") else path
        key = self._cache_key(url, params)
        if use_cache:
            cached = self._cache_get(key)
            if cached is not None:
                self.cache_hits += 1
                return cached

        pending_error: Exception | None = None
        for attempt in range(max_retries + 1):
            self._wait_for_token()
            self.api_calls += 1
            t0 = time.monotonic()
            try:
                resp = self._session.get(url, params=params, timeout=30)
            except requests.ConnectionError as exc:
                self._latencies.append(time.monotonic() - t0)
                self.errors += 1
                pending_error = exc
                if attempt < max_retries:
                    time.sleep((2**attempt) + random.uniform(0, 1))
                continue
            self._latencies.append(time.monotonic() - t0)

            if resp.status_code == 429:
                # keep a real exception pending: if every attempt 429s, the
                # exhaustion path must raise an HTTPError, not a bare None
                pending_error = requests.HTTPError("429", response=resp)
                time.sleep(int(resp.headers.get("Retry-After", 5)))
                continue
            if 400 <= resp.status_code < 500:
                self.errors += 1
                resp.raise_for_status()
            if resp.status_code >= 500:
                pending_error = requests.HTTPError(
                    f"{resp.status_code}", response=resp
                )
                time.sleep((2**attempt) + random.uniform(0, 1))
                continue

            payload = resp.json()
            if use_cache:
                self._cache_set(key, payload)
            return payload

        self.errors += 1
        if pending_error is None:
            raise requests.HTTPError("retries exhausted with no response")
        raise pending_error

    def _post(
        self,
        path: str,
        payload: dict,
        max_retries: int = 3,
        use_cache: bool = True,
    ) -> Any:
        """POST with a JSON body — the search-endpoint shape
        (reference: examples/validate_federal_awards.py:34-92). Same cache
        key discipline (url + canonicalized body) and the same retry
        ladder as :meth:`_get`."""
        url = f"{self.base_url}{path}" if path.startswith("/") else path
        key = self._cache_key(url, payload)
        if use_cache:
            cached = self._cache_get(key)
            if cached is not None:
                self.cache_hits += 1
                return cached

        pending_error: Exception | None = None
        for attempt in range(max_retries + 1):
            self._wait_for_token()
            self.api_calls += 1
            t0 = time.monotonic()
            try:
                resp = self._session.post(url, json=payload, timeout=30)
            except requests.ConnectionError as exc:
                self._latencies.append(time.monotonic() - t0)
                self.errors += 1
                pending_error = exc
                if attempt < max_retries:
                    time.sleep((2**attempt) + random.uniform(0, 1))
                continue
            self._latencies.append(time.monotonic() - t0)

            if resp.status_code == 429:
                # keep a real exception pending: if every attempt 429s, the
                # exhaustion path must raise an HTTPError, not a bare None
                pending_error = requests.HTTPError("429", response=resp)
                time.sleep(int(resp.headers.get("Retry-After", 5)))
                continue
            if 400 <= resp.status_code < 500:
                self.errors += 1
                resp.raise_for_status()
            if resp.status_code >= 500:
                pending_error = requests.HTTPError(
                    f"{resp.status_code}", response=resp
                )
                time.sleep((2**attempt) + random.uniform(0, 1))
                continue

            data = resp.json()
            if use_cache:
                self._cache_set(key, data)
            return data

        self.errors += 1
        if pending_error is None:
            raise requests.HTTPError("retries exhausted with no response")
        raise pending_error

    # -- distributed fan-out --------------------------------------------------

    def _fanout_json(
        self,
        specs: list,
        make_fetch,
        schema: T.StructType,
        max_tasks: int,
    ) -> DataFrame:
        """Distribute a known request set across executors (SURVEY §2.A5/A6):
        ``parallelize(specs).mapPartitions(fetch)`` where each task emits one
        JSON string per record, read back as a distributed frame with the
        declared schema — records never visit the driver.

        ``make_fetch(delay_s, n_slices, attempts_acc)`` must return a
        self-free partition function (closing only over plain values plus
        the accumulator handle). The driver drains one bucket token per
        task before launch so overlapping driver requests stay inside the
        global quota; tasks self-throttle to rate_limit/n_slices and
        stagger their first request (see the fetchers). The caller must
        finish through :meth:`_build_result`, whose one counting action runs
        the fetch exactly once and then credits the attempt counts into
        telemetry."""
        n_slices = max(1, min(len(specs), max_tasks))
        delay_s = 60.0 * n_slices / self.rate_limit
        for _ in range(n_slices):
            self._wait_for_token()
        attempts_acc = self.spark.sparkContext.accumulator(0)
        fetch = make_fetch(delay_s, n_slices, attempts_acc)
        self.last_fanout_partitions = n_slices
        self._pending_fanout_accs.append(attempts_acc)
        rdd = self.spark.sparkContext.parallelize(
            list(specs), n_slices
        ).mapPartitions(fetch)
        return self.spark.read.schema(schema).json(rdd)

    # -- JSON → DataFrame -----------------------------------------------------

    def json_to_df(self, payloads: list[str], schema: T.StructType) -> DataFrame:
        """Data-plane handoff: one JSON string per row, parsed and
        projected by ``from_json`` with the declared schema. Malformed or
        type-mismatched fields become NULL (PERMISSIVE semantics — the
        Spark analog of the reference's ``.get()``-with-default parsing).
        Empty input yields an empty frame with the same schema."""
        if not payloads:
            return self.spark.createDataFrame([], schema)
        raw = self.spark.createDataFrame([(p,) for p in payloads], "raw string")
        return raw.select(
            F.from_json("raw", schema).alias("j")
        ).select("j.*")

    # -- result builders ------------------------------------------------------

    def _build_result(
        self,
        df: DataFrame,
        started_at: datetime,
        warnings: list[str] | None = None,
    ) -> ExtractionResult:
        """Success envelope (base_client.py:249-271). ``df`` is persisted
        through :func:`persist_tracked`, so the ``count()`` that yields
        ``records`` is also the one action that materializes it: later actions
        on ``data`` read the cached blocks instead of replaying the fetch
        and ``from_json``, and :func:`release_intermediates` frees them.
        Pending fan-out attempts are credited into ``api_calls`` once that
        action has made the accumulators final. Executor fetch errors raise
        out of the count, inside the caller's lifecycle ``try``."""
        df = persist_tracked(df)
        records = df.count()
        if self._pending_fanout_accs:
            self.fanout_http_attempts = sum(
                acc.value for acc in self._pending_fanout_accs
            )
            self.api_calls += self.fanout_http_attempts
            self._pending_fanout_accs = []
        completed = datetime.now(timezone.utc)
        return ExtractionResult(
            success=True,
            source=self.source_name,
            records=records,
            api_calls=self.api_calls,
            cache_hits=self.cache_hits,
            started_at=started_at,
            completed_at=completed,
            duration_seconds=(completed - started_at).total_seconds(),
            warnings=warnings or [],
            data=df,
        )

    def _build_error(self, error: str, started_at: datetime) -> ExtractionResult:
        completed = datetime.now(timezone.utc)
        return ExtractionResult(
            success=False,
            source=self.source_name,
            records=0,
            api_calls=self.api_calls,
            cache_hits=self.cache_hits,
            started_at=started_at,
            completed_at=completed,
            duration_seconds=(completed - started_at).total_seconds(),
            error=error,
        )

    # -- telemetry ------------------------------------------------------------

    def get_telemetry(self) -> dict[str, Any]:
        """Counters summary (base_client.py:292-304)."""
        return {
            "source": self.source_name,
            "api_calls": self.api_calls,
            "cache_hits": self.cache_hits,
            "errors": self.errors,
            "avg_latency": (
                sum(self._latencies) / len(self._latencies)
                if self._latencies
                else 0.0
            ),
        }

    def reset_telemetry(self) -> None:
        self.api_calls = 0
        self.cache_hits = 0
        self.errors = 0
        self._latencies.clear()
