"""The etl-pipeline workload: two stages that each write real Parquet.

1. ``extract``: seeded REST pages go through the USGS, World Bank and
   Open-Meteo clients with only the HTTP hop replaced (a stub
   ``requests.Session``), so caching, rate limiting, pagination and
   request telemetry run as in production. ``MultiSourceCollector`` pulls
   all three, a fuse step joins them per country, ``DataValidator`` gates
   the fused and the quake frames, and a small star schema is written.
2. ``warehouse``: lineitem lands range-clustered by ship date
   (``write_clustered_parquet``), a quality gate checks orders, the landed
   lineitem and customer, then ``StarSchemaBuilder.build`` writes two
   dimensions and a fact partitioned by order year, and
   ``validate_referential_integrity`` probes its keys.

Each stage returns the facts its output check needs; the checks run after
the timed region (:func:`check_stage`).

Extraction stays on the driver path on purpose: the World Bank client
fans pages out to executors from ``FANOUT_MIN_PAGES`` pages on, and the
Open-Meteo client from ``FANOUT_MIN_LOCATIONS`` locations on, and the
fan-out does real HTTP. The generated sizes stay below both thresholds,
and the check asserts that every client's request count equals the pages
generated for it, so a stray fan-out fails loudly instead of silently.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, timedelta

from pyspark.sql import functions as F

from financial_data_engineering_spark.functions import surrogate_key
from financial_data_engineering_spark.functions.keys import date_key
from financial_data_engineering_spark.operators import argmax_per_group
from financial_data_engineering_spark.pipeline import MultiSourceCollector
from financial_data_engineering_spark.quality import (
    CompletenessRule,
    DataValidator,
    RangeRule,
    UniquenessRule,
)
from financial_data_engineering_spark.sources import (
    OpenMeteoClient,
    USGSClient,
    WorldBankClient,
)
from financial_data_engineering_spark.tables import load
from financial_data_engineering_spark.transform import StarSchemaBuilder
from financial_data_engineering_spark.transform.clustered import write_clustered_parquet
from financial_data_engineering_spark.transform.date_dim import build_date_dimension

N_COUNTRIES = 50
YEARS = range(2012, 2024)  # 50 countries x 12 years = 600 records = 6 pages
WB_INDICATORS = {"NY.GDP.PCAP.CD": "GDP per capita", "SP.POP.TOTL": "Population"}
WB_PER_PAGE = 100
N_QUAKES = 1200  # USGS pages of 500: 500 + 500 + 200 (short page ends the walk)
N_LOCATIONS = 7
N_DAYS = 366

if (N_COUNTRIES * len(YEARS) > WB_PER_PAGE * WorldBankClient.FANOUT_MIN_PAGES
        or N_LOCATIONS >= OpenMeteoClient.FANOUT_MIN_LOCATIONS):
    raise ValueError("generated REST inputs would reach the executor fan-out")


class _Response:
    status_code = 200
    headers: dict = {}

    def __init__(self, payload):
        self._payload = payload

    def json(self):
        # a fresh copy per call, as a real body would parse
        return json.loads(self._payload)

    def raise_for_status(self):
        return None


class StubSession:
    """Stands in for ``requests.Session``: answers GETs from a handler and
    counts them."""

    def __init__(self, handler):
        self.headers: dict = {}
        self.requests = 0
        self._handler = handler

    def get(self, url, params=None, timeout=None):
        self.requests += 1
        return _Response(json.dumps(self._handler(url, dict(params or {}))))


def make_sources(seed: int) -> dict:
    """Seeded payloads for the three APIs. Sizes are fixed; the seed sets
    the values, so every seed does the same amount of work."""
    rng = random.Random(seed)
    countries = [(f"K{i:02d}", f"KX{i:02d}", f"Country {i:02d}") for i in range(N_COUNTRIES)]
    wb = {}
    for ind, label in WB_INDICATORS.items():
        scale = 1e5 if ind == "NY.GDP.PCAP.CD" else 2e8
        wb[ind] = [
            {
                "indicator": {"id": ind, "value": label},
                "country": {"id": cid, "value": cname},
                "countryiso3code": iso3,
                "date": str(year),
                # latest year always present; earlier ones sometimes null
                "value": None if year < YEARS[-1] and rng.random() < 0.05
                else round(rng.uniform(0.01, 1.0) * scale, 1),
            }
            for cid, iso3, cname in countries
            for year in YEARS
        ]
    quakes = []
    for i in range(N_QUAKES):
        iso3 = countries[rng.randrange(N_COUNTRIES)][1]
        quakes.append(
            {
                "id": f"q{seed}_{i:05d}",
                "properties": {
                    "mag": round(rng.uniform(4.5, 8.5), 1),
                    "place": f"{rng.randrange(5, 300)} km N of Town {i % 97}, {iso3}",
                    "time": 1704067200000 + rng.randrange(365 * 86400) * 1000,
                    "type": "earthquake",
                    "status": "reviewed",
                },
                "geometry": {
                    "coordinates": [
                        round(rng.uniform(-180, 180), 3),
                        round(rng.uniform(-90, 90), 3),
                        round(rng.uniform(0, 600), 1),
                    ]
                },
            }
        )
    days = [(date(2024, 1, 1) + timedelta(d)).isoformat() for d in range(N_DAYS)]
    locations = []
    weather = {}
    for i in range(N_LOCATIONS):
        lat, lon = round(-60 + 17.0 * i, 2), round(-170 + 45.5 * i, 2)
        name = f"Capital {i}"
        locations.append((lat, lon, name))
        weather[(lat, lon)] = {
            "daily": {
                "time": days,
                "temperature_2m_max": [round(rng.uniform(-5, 35), 1) for _ in days],
                "temperature_2m_min": [round(rng.uniform(-20, 15), 1) for _ in days],
                "precipitation_sum": [round(rng.uniform(0, 30), 1) for _ in days],
                "wind_speed_10m_max": [round(rng.uniform(0, 90), 1) for _ in days],
            }
        }
    capital_country = {f"Capital {i}": countries[i * 7][1] for i in range(N_LOCATIONS)}
    return {
        "countries": countries,
        "wb": wb,
        "quakes": quakes,
        "locations": locations,
        "weather": weather,
        "capital_country": capital_country,
    }


def _usgs_handler(quakes):
    def handle(url, params):
        start = int(params["offset"]) - 1
        return {"type": "FeatureCollection",
                "features": quakes[start : start + int(params["limit"])]}
    return handle


def _wb_handler(wb):
    def handle(url, params):
        records = wb[url.rsplit("/", 1)[1]]
        pages = -(-len(records) // WB_PER_PAGE)
        page = int(params["page"])
        meta = {"page": page, "pages": pages, "per_page": WB_PER_PAGE, "total": len(records)}
        return [meta, records[(page - 1) * WB_PER_PAGE : page * WB_PER_PAGE]]
    return handle


def _meteo_handler(weather):
    def handle(url, params):
        return weather[(params["latitude"], params["longitude"])]
    return handle


def _spanned(tracer, name: str, fn):
    """``fn`` with every call recorded as span ``name`` under its own job
    group, for calls the program makes on the benchmark's behalf."""

    def call(*args, **kwargs):
        with tracer.span(name, group=name):
            return fn(*args, **kwargs)

    return call


def expected_requests(src: dict) -> dict[str, int]:
    """Requests each client must make to walk the generated pages."""
    usgs_pages = N_QUAKES // USGSClient.PAGE_SIZE + 1
    wb_pages = sum(-(-len(r) // WB_PER_PAGE) for r in src["wb"].values())
    return {"usgs": usgs_pages, "world_bank": wb_pages, "open_meteo": len(src["locations"])}


def stage_extract(spark, tracer, src: dict, out_dir: str) -> dict:
    clients = {
        "usgs": USGSClient(spark),
        "world_bank": WorldBankClient(spark),
        "open_meteo": OpenMeteoClient(spark),
    }
    handlers = {
        "usgs": _usgs_handler(src["quakes"]),
        "world_bank": _wb_handler(src["wb"]),
        "open_meteo": _meteo_handler(src["weather"]),
    }
    stubs = {}
    collector = MultiSourceCollector()
    for name, client in clients.items():
        stubs[name] = client._session = StubSession(handlers[name])
        client.extract = _spanned(tracer, "sources.extract", client.extract)
        collector.register(name, client)
    kwargs = {
        "usgs": {"max_results": 2 * N_QUAKES},
        "world_bank": {
            "countries": [c[0] for c in src["countries"]],
            "indicators": list(WB_INDICATORS),
            "start_year": YEARS[0],
            "end_year": YEARS[-1],
        },
        "open_meteo": {"locations": src["locations"]},
    }
    with tracer.span("pipeline.collect", group="pipeline.collect_all"):
        results = collector.collect_all(**kwargs)
    failed = {n: r.error for n, r in results.items() if not r.success}
    if failed:
        raise RuntimeError(f"extraction failed: {failed}")

    wb, weather, quakes = (results[n].data for n in ("world_bank", "open_meteo", "usgs"))
    latest = argmax_per_group(
        wb.filter(F.col("value").isNotNull()), ["country_code", "indicator_code"], "year"
    )
    gdp = latest.filter(F.col("indicator_code") == "NY.GDP.PCAP.CD").select(
        "country_code", "country_name", F.col("value").alias("gdp_per_capita")
    )
    pop = latest.filter(F.col("indicator_code") == "SP.POP.TOTL").select(
        "country_code", F.col("value").alias("population")
    )
    capital = F.create_map(*[F.lit(x) for kv in src["capital_country"].items() for x in kv])
    temps = (
        weather.withColumn("country_code", capital[F.col("location")])
        .groupBy("country_code")
        .agg(F.round(F.avg("temperature_max"), 2).alias("avg_temp_max"))
    )
    quake_stats = (
        quakes.withColumn("country_code", F.substring_index("place", ", ", -1))
        .groupBy("country_code")
        .agg(F.count("*").alias("quakes"), F.max("magnitude").alias("max_magnitude"))
    )
    fused = (
        gdp.join(pop, "country_code", "left")
        .join(F.broadcast(temps), "country_code", "left")
        .join(F.broadcast(quake_stats), "country_code", "left")
    )
    reports = {}
    with tracer.span("quality.validate", group="quality.validate"):
        reports["fused_countries"] = (
            DataValidator("fused_countries")
            .add_rule(CompletenessRule(["country_code", "gdp_per_capita", "population"]))
            .add_rule(RangeRule("gdp_per_capita", min_val=0, max_val=1e7))
            .add_rule(RangeRule("population", min_val=0, max_val=2e9))
            .validate(fused)
        )
    with tracer.span("quality.validate", group="quality.validate"):
        reports["quakes"] = (
            DataValidator("quakes")
            .add_rule(CompletenessRule(["id", "time", "magnitude"]))
            .add_rule(RangeRule("magnitude", min_val=0, max_val=10))
            .validate(quakes)
        )
    dim_country = fused.select(
        surrogate_key("country_code").alias("country_sk"), "country_code", "country_name"
    )
    fact = fused.join(dim_country.select("country_code", "country_sk"), "country_code").select(
        "country_sk", "gdp_per_capita", "population", "avg_temp_max", "quakes", "max_magnitude"
    )
    builder = (
        StarSchemaBuilder("economic", out_dir)
        .add_dimension("dim_country", natural_keys=["country_code"])
        .add_fact(
            "fact_country_indicators",
            measures=["gdp_per_capita", "population", "avg_temp_max", "quakes"],
            dimension_keys=["country_sk"],
        )
    )
    with tracer.span("transform.build", group="transform.build"):
        build = builder.build({"dim_country": dim_country, "fact_country_indicators": fact})
    with tracer.span("transform.ri_check", group="transform.ri_check"):
        orphans = builder.validate_referential_integrity()
    return {
        "records": {n: r.records for n, r in results.items()},
        "requests": {n: clients[n].get_telemetry()["api_calls"] for n in clients},
        "served": {n: s.requests for n, s in stubs.items()},
        "fanout": {n: c.fanout_http_attempts for n, c in clients.items()},
        "reports": {n: r.passed for n, r in reports.items()},
        "build_error": build.error,
        "orphans": orphans,
        "outputs": build.output_paths,
    }


def stage_warehouse(spark, tracer, sf_dir: str, out_dir: str) -> dict:
    landed = os.path.join(out_dir, "landing", "lineitem")
    with tracer.span("transform.clustered_write", group="transform.clustered_write"):
        write_clustered_parquet(load(spark, "lineitem", sf_dir), landed, ["l_shipdate"])
    orders = load(spark, "orders", sf_dir)
    lineitem = spark.read.parquet(landed)
    customer = load(spark, "customer", sf_dir)
    gates = {
        "orders": [
            CompletenessRule(["o_orderkey", "o_custkey", "o_orderdate"]),
            UniquenessRule(["o_orderkey"]),
            RangeRule("o_totalprice", min_val=0),
        ],
        "lineitem": [
            CompletenessRule(["l_orderkey", "l_partkey", "l_shipdate"]),
            RangeRule("l_quantity", min_val=0, max_val=100),
            RangeRule("l_discount", min_val=0, max_val=1),
        ],
        "customer": [
            CompletenessRule(["c_custkey", "c_name"]),
            UniquenessRule(["c_custkey"]),
        ],
    }
    frames = {"orders": orders, "lineitem": lineitem, "customer": customer}
    reports = {}
    for name, rules in gates.items():
        with tracer.span("quality.validate", group="quality.validate"):
            reports[name] = DataValidator(name).add_rules(rules).validate(frames[name])

    dim_customer = customer.select(
        surrogate_key("c_custkey").alias("customer_sk"),
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
    )
    dim_date = build_date_dimension(orders, "o_orderdate")
    fact = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).select(
        surrogate_key("o_custkey").alias("customer_sk"),
        date_key("o_orderdate").alias("date_key"),
        F.year("o_orderdate").alias("order_year"),
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias("revenue"),
    )
    builder = (
        StarSchemaBuilder("sales", out_dir)
        .add_dimension("dim_customer", natural_keys=["c_custkey"])
        .add_dimension("dim_date", natural_keys=["date_key"])
        .add_fact(
            "fact_lineitem",
            measures=["l_quantity", "l_extendedprice", "revenue"],
            dimension_keys=["customer_sk", "date_key"],
            partition_by=["order_year"],
        )
    )
    with tracer.span("transform.build", group="transform.build"):
        build = builder.build(
            {"dim_customer": dim_customer, "dim_date": dim_date, "fact_lineitem": fact}
        )
    with tracer.span("transform.ri_check", group="transform.ri_check"):
        orphans = builder.validate_referential_integrity()
    return {
        "reports": {n: r.passed for n, r in reports.items()},
        "build_error": build.error,
        "orphans": orphans,
        "outputs": {"lineitem_landed": landed, **build.output_paths},
    }


def expected_rows(sf_dir: str) -> dict[str, dict[str, int]]:
    """Row counts each stage's Parquet output must read back with, from the
    generated inputs and from DuckDB over the source tables."""
    import duckdb

    con = duckdb.connect()
    try:
        def one(sql: str) -> int:
            return con.sql(sql.format(d=sf_dir)).fetchone()[0]

        return {
            "extract": {"dim_country": N_COUNTRIES, "fact_country_indicators": N_COUNTRIES},
            "warehouse": {
                "lineitem_landed": one("SELECT count(*) FROM '{d}/lineitem.parquet'"),
                "dim_customer": one("SELECT count(*) FROM '{d}/customer.parquet'"),
                "dim_date": one("SELECT count(DISTINCT CAST(o_orderdate AS DATE)) "
                                "FROM '{d}/orders.parquet'"),
                "fact_lineitem": one("SELECT count(*) FROM '{d}/lineitem.parquet' l "
                                     "JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"),
            },
        }
    finally:
        con.close()


def parquet_rows(path: str) -> int:
    """Rows in a (possibly hive-partitioned) Parquet directory, read back
    with pyarrow, independently of Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def check_stage(stage: str, out: dict, expected: dict[str, dict[str, int]],
                src: dict) -> list[str]:
    """Problems with one stage's outputs (empty when correct)."""
    problems = []
    for name, passed in out.get("reports", {}).items():
        if not passed:
            problems.append(f"quality report {name} failed")
    if out.get("build_error"):
        problems.append(f"star schema build failed: {out['build_error']}")
    for probe, n in out.get("orphans", {}).items():
        if n:
            problems.append(f"{n} orphans in {probe}")
    if stage == "extract":
        want = expected_requests(src)
        if out["requests"] != want or out["served"] != want:
            problems.append(
                f"requests {out['requests']} / served {out['served']} != pages {want}")
        if any(out["fanout"].values()):
            problems.append(f"executor fan-out made HTTP requests: {out['fanout']}")
        want_records = {"usgs": N_QUAKES, "world_bank": N_COUNTRIES * len(YEARS) * 2,
                        "open_meteo": N_LOCATIONS * N_DAYS}
        if out["records"] != want_records:
            problems.append(f"records {out['records']} != {want_records}")
    for table, path in out["outputs"].items():
        rows = parquet_rows(path)
        if rows != expected[stage][table]:
            problems.append(f"{table}: {rows} rows read back, expected {expected[stage][table]}")
    return problems
