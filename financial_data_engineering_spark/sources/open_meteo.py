"""Open-Meteo historical weather client: per-location archive fetch +
parallel-array pivot.

Parity with /root/reference/src/extractors/open_meteo.py:27-136. Each
location's response carries ``daily`` as parallel arrays (time[i] lines up
with each variable[i]); the pivot to rows is the classic
``arrays_zip`` + ``explode`` plan — no Python loop touches the data. A
variable missing from the response becomes a NULL column for every day
(the ``daily.get(var, [None]*n)`` analog, via coalesce with a
NULL-repeated array). Locations are one frame keyed by a ``location``
column.

At volume the location list is a known request set (SURVEY §2.A6): above
FANOUT_MIN_LOCATIONS it fans out via
``parallelize(locations).mapPartitions(fetch)`` — tasks emit JSON strings
that never visit the driver, self-throttle to their share of the rate
limit, and raise on attempt exhaustion so a lost location fails the
extraction instead of silently shrinking it.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.sources.base_client import BaseClient
from financial_data_engineering_spark.sources.result import ExtractionResult

#: API variable → output column (open_meteo.py:117-124).
COLUMN_MAP = {
    "temperature_2m_max": "temperature_max",
    "temperature_2m_min": "temperature_min",
    "precipitation_sum": "precipitation",
    "wind_speed_10m_max": "wind_speed_max",
}

DEFAULT_VARIABLES = list(COLUMN_MAP)

DEFAULT_LOCATIONS = [
    (40.71, -74.01, "New York"),
    (51.51, -0.13, "London"),
    (35.68, 139.69, "Tokyo"),
]


def _located_schema(variables: list[str]) -> T.StructType:
    """location + daily parallel arrays — the shape both the driver path
    and the fan-out path hand to the pivot."""
    fields = [T.StructField("time", T.ArrayType(T.StringType()))]
    fields += [
        T.StructField(v, T.ArrayType(T.DoubleType())) for v in variables
    ]
    return T.StructType(
        [
            T.StructField("location", T.StringType()),
            T.StructField("daily", T.StructType(fields)),
        ]
    )


class OpenMeteoClient(BaseClient):
    """Daily weather history from the Open-Meteo archive API
    (open_meteo.py:27-48)."""

    source_name = "open_meteo"
    base_url = "https://archive-api.open-meteo.com/v1"
    rate_limit = 60

    #: below this many locations, a Spark job costs more than the driver
    #: loop it replaces; above it, the request set fans out per SURVEY §2.A6.
    FANOUT_MIN_LOCATIONS = 8
    #: ceiling on concurrent fetch tasks, so the per-task token budget
    #: (rate_limit / tasks) stays meaningful.
    FANOUT_MAX_TASKS = 8

    def extract(
        self,
        locations: list[tuple[float, float, str]] | None = None,
        start_date: str = "2024-01-01",
        end_date: str = "2024-12-31",
        variables: list[str] | None = None,
        **kwargs,
    ) -> ExtractionResult:
        """One archive request per location (requested variables are the
        projection pushdown — only named arrays come back), pivoted into
        one frame. Small location lists walk on the driver; large ones fan
        out across executors and are materialized exactly once inside this
        lifecycle try (so executor errors become an error result)."""
        started = datetime.now(timezone.utc)
        self.reset_telemetry()
        self._pending_fanout_accs = []
        locations = DEFAULT_LOCATIONS if locations is None else locations
        variables = DEFAULT_VARIABLES if variables is None else variables
        try:
            if len(locations) >= self.FANOUT_MIN_LOCATIONS:
                raw = self._fanout_locations(
                    locations, start_date, end_date, variables
                )
            else:
                payloads: list[str] = []
                for lat, lon, name in locations:
                    payload = self._get(
                        "/archive",
                        params=self._params(
                            lat, lon, start_date, end_date, variables
                        ),
                    )
                    daily = (payload or {}).get("daily") or {}
                    if "time" not in daily:
                        continue
                    payloads.append(json.dumps({"location": name, "daily": daily}))
                raw = self.json_to_df(payloads, _located_schema(variables))
            return self._build_result(self._pivot(raw, variables), started)
        except Exception as exc:  # noqa: BLE001 — lifecycle contract: never raise
            return self._build_error(str(exc), started)

    @staticmethod
    def _params(
        lat: float, lon: float, start_date: str, end_date: str, variables: list[str]
    ) -> dict:
        return {
            "latitude": lat,
            "longitude": lon,
            "start_date": start_date,
            "end_date": end_date,
            "daily": ",".join(variables),
            "timezone": "UTC",
        }

    def _fanout_locations(
        self,
        locations: list[tuple[float, float, str]],
        start_date: str,
        end_date: str,
        variables: list[str],
    ) -> DataFrame:
        """SURVEY §2.A6 realized: ``parallelize(locations).mapPartitions``
        with the same self-free fetcher discipline as the World Bank page
        fan-out — records come back as a distributed JSON-string RDD, never
        through the driver."""
        base_params = {
            "start_date": start_date,
            "end_date": end_date,
            "daily": ",".join(variables),
            "timezone": "UTC",
        }
        url = f"{self.base_url}/archive"
        headers = dict(self._session.headers)
        return self._fanout_json(
            list(locations),
            lambda delay_s, n, acc: self._location_fetcher(
                url, base_params, headers, delay_s, n, acc
            ),
            _located_schema(variables),
            self.FANOUT_MAX_TASKS,
        )

    @staticmethod
    def _location_fetcher(
        url: str,
        base_params: dict,
        headers: dict,
        delay_s: float,
        n_slices: int,
        attempts_acc,
    ):
        """Executor-side fetch closure: self-free (plain values + the
        accumulator handle only). Emits one JSON string per usable
        location; a location with no ``daily.time`` axis is skipped
        (data-shape, not transport); transport failure raises via
        executor_get so the job fails loudly."""

        def fetch(locs_iter):
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
            for lat, lon, name in locs_iter:
                if not first:
                    _time.sleep(delay_s)
                first = False
                payload = executor_get(
                    sess,
                    url,
                    {**base_params, "latitude": lat, "longitude": lon},
                    attempts_acc,
                )
                daily = (payload or {}).get("daily") or {}
                if "time" in daily:
                    yield _json.dumps({"location": name, "daily": daily})

        return fetch

    def _pivot(self, df: DataFrame, variables: list[str]) -> DataFrame:
        """Pivot parallel arrays to rows (open_meteo.py:95-136 semantics):
        ``explode(arrays_zip(time, vars...))`` with a NULL-repeated array
        standing in for any variable the response omitted."""
        time_axis = F.col("daily.time")
        null_axis = F.transform(time_axis, lambda _: F.lit(None).cast("double"))
        zipped = F.arrays_zip(
            time_axis.alias("t"),
            *[
                F.coalesce(F.col(f"daily.{v}"), null_axis).alias(v)
                for v in variables
            ],
        )
        return df.select("location", F.explode(zipped).alias("z")).select(
            "location",
            F.to_timestamp(F.col("z.t")).alias("date"),
            *[F.col(f"z.{v}").alias(COLUMN_MAP.get(v, v)) for v in variables],
        )
