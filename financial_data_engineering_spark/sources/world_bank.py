"""World Bank indicator client: page-number pagination + envelope unwrap +
record normalization.

Parity with /root/reference/src/extractors/world_bank.py:30-155. The API
returns ``[metadata, data]`` per page; the driver loop reads
``metadata.pages`` after page 1 and walks the rest (at volume, pages 2..N
are a known request set — fan them out via ``parallelize``). Record
flattening is expression-level: ``coalesce(countryiso3code, country.id)``
for the code fallback, ``try_cast`` for the year parse and numeric coerce
(invalid → NULL — pandas ``errors='coerce'`` semantics under ANSI mode).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.sources.base_client import BaseClient
from financial_data_engineering_spark.sources.result import ExtractionResult

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("countryiso3code", T.StringType()),
        T.StructField(
            "country",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("value", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "indicator",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("value", T.StringType()),
                ]
            ),
        ),
        T.StructField("date", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("country_code", T.StringType()),
        T.StructField("country_name", T.StringType()),
        T.StructField("indicator_code", T.StringType()),
        T.StructField("indicator_name", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class WorldBankClient(BaseClient):
    """Development indicators from the World Bank API
    (world_bank.py:30-44)."""

    source_name = "world_bank"
    base_url = "https://api.worldbank.org/v2"
    rate_limit = 60

    PER_PAGE = 100

    DEFAULT_COUNTRIES = ["US", "CN", "JP", "DE", "GB"]
    DEFAULT_INDICATORS = ["NY.GDP.PCAP.CD", "SP.POP.TOTL"]

    def extract(
        self,
        countries: list[str] | None = None,
        indicators: list[str] | None = None,
        start_year: int = 2018,
        end_year: int = 2023,
        **kwargs,
    ) -> ExtractionResult:
        """One paginated walk per indicator (date range pushed into the
        request), all unioned into one frame (world_bank.py:65-84).

        The union is materialized once, by :meth:`_build_result`'s
        persisting count inside the lifecycle try block, so executor-side
        fetch errors become an error result (extract never raises) and
        re-collecting ``result.data`` replays the cache, not the HTTP
        fetch."""
        started = datetime.now(timezone.utc)
        self.reset_telemetry()
        self._pending_fanout_accs = []
        countries = self.DEFAULT_COUNTRIES if countries is None else countries
        indicators = self.DEFAULT_INDICATORS if indicators is None else indicators
        try:
            country_str = ";".join(countries)
            frames = [
                self._fetch_indicator(country_str, ind, start_year, end_year)
                for ind in indicators
            ]
            raw = frames[0]
            for f in frames[1:]:
                raw = raw.unionByName(f)
            return self._build_result(self._normalize(raw), started)
        except Exception as exc:  # noqa: BLE001 — lifecycle contract: never raise
            return self._build_error(str(exc), started)

    #: below this many remaining pages, a Spark job costs more than the
    #: driver loop it replaces; above it, pages 2..N are a known request
    #: set and fan out per SURVEY §2.A5.
    FANOUT_MIN_PAGES = 8
    #: ceiling on concurrent fetch tasks, so the per-task token budget
    #: (rate_limit / tasks) stays meaningful.
    FANOUT_MAX_TASKS = 8

    def _fetch_indicator(
        self, country_str: str, indicator: str, start_year: int, end_year: int
    ) -> DataFrame:
        """Page-number pagination (world_bank.py:88-125): page count comes
        from page 1's metadata; malformed envelopes or null data stop the
        walk. Page 1 always fetches on the driver (its metadata IS the
        request-set discovery); when the remaining page set is large it
        fans out across executors, otherwise the driver walks it. Returns
        a RECORD_SCHEMA frame — driver-fetched pages enter through
        json_to_df, fanned-out pages stay distributed end-to-end."""
        path = f"/country/{country_str}/indicator/{indicator}"
        base_params = {
            "format": "json",
            "date": f"{start_year}:{end_year}",
            "per_page": self.PER_PAGE,
        }
        raw = self._get(path, params={**base_params, "page": 1})
        if not isinstance(raw, list) or len(raw) < 2 or raw[1] is None:
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        metadata, data = raw[0], raw[1]
        records: list[dict] = list(data)
        pages = (metadata or {}).get("pages", 1)
        if pages - 1 < self.FANOUT_MIN_PAGES:
            for page in range(2, pages + 1):
                raw = self._get(path, params={**base_params, "page": page})
                if not isinstance(raw, list) or len(raw) < 2 or raw[1] is None:
                    break
                records.extend(raw[1])
            return self.json_to_df([json.dumps(r) for r in records], RECORD_SCHEMA)
        head = self.json_to_df([json.dumps(r) for r in records], RECORD_SCHEMA)
        tail = self._fanout_pages(path, base_params, range(2, pages + 1))
        return head.unionByName(tail)

    def _fanout_pages(
        self, path: str, base_params: dict, pages: range
    ) -> DataFrame:
        """Distributed page fetch: ``parallelize(pages).mapPartitions`` —
        the SURVEY §2.A5 mapping for known-page-count pagination. Each task
        opens its own HTTP session and self-throttles to its share of the
        global rate limit (rate_limit / n_tasks), staggering its first
        request by partition id so the fan-out never bursts n_slices
        requests at one instant; the driver additionally drains one bucket
        token per task so driver-issued requests overlapping the fan-out
        stay inside the global quota.

        The records NEVER visit the driver: tasks emit JSON strings and the
        result is ``spark.read.schema(...).json(rdd)`` — a distributed
        frame whose lineage is the fetch itself. A page whose every attempt
        fails raises (Spark surfaces it at the materializing action, where
        extract's lifecycle try converts it to an error result) instead of
        silently dropping rows; malformed-but-delivered envelopes are
        skipped, since the driver walk's stop-on-malformed semantics don't
        compose with unordered tasks. Actual per-attempt HTTP counts come
        back through an accumulator, credited to api_calls after the
        materializing action (see BaseClient._fanout_json /
        _build_result)."""
        url = f"{self.base_url}{path}"
        headers = dict(self._session.headers)
        params = dict(base_params)
        return self._fanout_json(
            list(pages),
            lambda delay_s, n, acc: self._page_fetcher(
                url, params, headers, delay_s, n, acc
            ),
            RECORD_SCHEMA,
            self.FANOUT_MAX_TASKS,
        )

    @staticmethod
    def _page_fetcher(
        url: str,
        base_params: dict,
        headers: dict,
        delay_s: float,
        n_slices: int,
        attempts_acc,
    ):
        """Executor-side fetch closure. Deliberately self-free: it closes
        only over plain values (plus the accumulator handle, which is
        designed to ship by value), so cloudpickle never captures driver
        state (session, token bucket, telemetry). Yields one JSON string
        per record; raises on attempt exhaustion so a lost page fails the
        job rather than silently shrinking the result."""

        def fetch(pages_iter):
            import json as _json
            import time as _time

            import requests as rq
            from pyspark import TaskContext

            from financial_data_engineering_spark.sources.base_client import (
                executor_get,
            )

            sess = rq.Session()
            sess.headers.update(headers)
            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            # stagger the fleet's first wave uniformly across one
            # inter-request window instead of bursting n_slices at once
            _time.sleep(delay_s * (pid % n_slices) / n_slices)
            first = True
            for page in pages_iter:
                if not first:
                    _time.sleep(delay_s)
                first = False
                payload = executor_get(
                    sess, url, {**base_params, "page": page}, attempts_acc
                )
                if (
                    isinstance(payload, list)
                    and len(payload) >= 2
                    and payload[1]
                ):
                    yield from (_json.dumps(rec) for rec in payload[1])

        return fetch

    def _normalize(self, df: DataFrame) -> DataFrame:
        """Normalize nested RECORD_SCHEMA rows to the flat schema
        (world_bank.py:127-153 semantics)."""
        return df.select(
            F.coalesce(F.col("countryiso3code"), F.col("country.id")).alias(
                "country_code"
            ),
            F.col("country.value").alias("country_name"),
            F.col("indicator.id").alias("indicator_code"),
            F.col("indicator.value").alias("indicator_name"),
            F.expr("try_cast(date AS int)").alias("year"),
            F.expr("try_cast(value AS double)").alias("value"),
        )
