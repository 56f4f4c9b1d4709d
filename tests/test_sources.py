"""Extraction-layer tests: mock-isolated (no live network), mirroring the
reference's matrix (reference: tests/test_base_client.py, test_clients.py):
rate limiter, cache TTL, retry ladder, pagination stop conditions, JSON
flattening semantics, lifecycle error capture, telemetry.
"""

from __future__ import annotations

from unittest.mock import MagicMock, patch

import pytest
import requests

from financial_data_engineering_spark.sources import (
    OpenMeteoClient,
    USGSClient,
    WorldBankClient,
)
from financial_data_engineering_spark.sources.base_client import BaseClient


class StubClient(BaseClient):
    source_name = "stub"
    base_url = "https://api.example.com"
    rate_limit = 120

    def extract(self, **kwargs):  # pragma: no cover - not used
        raise NotImplementedError


@pytest.fixture()
def stub(spark):
    return StubClient(spark)


@pytest.fixture()
def mock_geojson():
    """3-feature USGS payload (reference conftest.py:14-58); the third
    feature has a 2-element coordinates array to exercise OOB→NULL depth."""
    def feat(fid, mag, place, t, coords, status):
        return {
            "id": fid,
            "type": "Feature",
            "properties": {
                "mag": mag, "place": place, "time": t,
                "type": "earthquake", "status": status,
            },
            "geometry": {"type": "Point", "coordinates": coords},
        }
    return {
        "type": "FeatureCollection",
        "features": [
            feat("q1", 7.1, "100 km S of Honshu, Japan", 1700000000000,
                 [139.69, 35.68, 30.0], "reviewed"),
            feat("q2", 5.5, "50 km NE of Los Angeles, CA", 1700010000000,
                 [-118.24, 34.05, 12.5], "automatic"),
            feat("q3", 4.8, "20 km W of Lima, Peru", 1700020000000,
                 [-77.04, -12.05], "reviewed"),
        ],
    }


@pytest.fixture()
def mock_weather():
    """Parallel-array daily weather (reference conftest.py:61-74), with
    one requested variable absent to exercise the NULL-column path."""
    return {
        "latitude": 40.71,
        "longitude": -74.01,
        "daily": {
            "time": ["2024-01-01", "2024-01-02", "2024-01-03"],
            "temperature_2m_max": [5.2, 3.8, 7.1],
            "temperature_2m_min": [-1.0, -2.5, 0.3],
            "precipitation_sum": [0.0, 12.5, 2.1],
            # wind_speed_10m_max intentionally missing
        },
    }


@pytest.fixture()
def mock_worldbank():
    """[metadata, data] envelope (reference conftest.py:77-87), with one
    non-numeric value to exercise try_cast coerce."""
    def rec(iso3, cid, cname, year, value):
        return {
            "indicator": {"id": "NY.GDP.PCAP.CD", "value": "GDP per capita"},
            "country": {"id": cid, "value": cname},
            "countryiso3code": iso3,
            "date": year,
            "value": value,
        }
    return [
        {"page": 1, "pages": 1, "per_page": 100, "total": 3},
        [
            rec("USA", "US", "United States", "2023", 80034.567),
            rec(None, "GB", "United Kingdom", "2023", "not-a-number"),
            rec("JPN", "JP", "Japan", "2023", None),
        ],
    ]


# -- BaseClient internals -----------------------------------------------------


class TestRateLimiter:
    def test_consumes_tokens_without_sleep_when_available(self, stub):
        for _ in range(5):
            stub._wait_for_token()
        assert stub._bucket_level < stub.rate_limit

    def test_blocks_until_refill(self, stub):
        stub._bucket_level = 0.0
        with patch(
            "financial_data_engineering_spark.sources.base_client.time.sleep"
        ) as mock_sleep:
            # Refill instantly on "sleep" by rewinding the stamp.
            def refill(_):
                stub._bucket_stamp -= 1.0
            mock_sleep.side_effect = refill
            stub._wait_for_token()
        assert mock_sleep.called


class TestCache:
    def test_key_is_deterministic_and_param_order_free(self, stub):
        a = stub._cache_key("http://x", {"a": 1, "b": 2})
        b = stub._cache_key("http://x", {"b": 2, "a": 1})
        assert a == b
        assert a != stub._cache_key("http://x", {"a": 1})

    def test_hit_and_ttl_expiry(self, stub):
        stub._cache_set("k", {"v": 1})
        assert stub._cache_get("k") == {"v": 1}
        stub._cache["k"] = ({"v": 1}, 0.0)  # force-expire
        assert stub._cache_get("k") is None

    def test_get_uses_cache_and_counts_hit(self, stub):
        ok = MagicMock(status_code=200)
        ok.json.return_value = {"v": 42}
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", return_value=ok
        ) as http:
            first = stub._get("/data", params={"q": 1})
            second = stub._get("/data", params={"q": 1})
        assert first == second == {"v": 42}
        assert http.call_count == 1
        assert stub.cache_hits == 1
        assert stub.api_calls == 1


class TestRetries:
    def test_retry_on_5xx_then_success(self, stub):
        bad = MagicMock(status_code=500, headers={})
        ok = MagicMock(status_code=200)
        ok.json.return_value = {"ok": True}
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", side_effect=[bad, ok]
        ), patch("financial_data_engineering_spark.sources.base_client.time.sleep"):
            out = stub._get("/t", use_cache=False)
        assert out == {"ok": True}
        assert stub.api_calls == 2

    def test_no_retry_on_4xx(self, stub):
        resp = MagicMock(status_code=404)
        resp.raise_for_status.side_effect = requests.HTTPError("404")
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", return_value=resp
        ):
            with pytest.raises(requests.HTTPError):
                stub._get("/missing", use_cache=False)
        assert stub.api_calls == 1
        assert stub.errors == 1

    def test_429_honours_retry_after(self, stub):
        limited = MagicMock(status_code=429, headers={"Retry-After": "2"})
        ok = MagicMock(status_code=200)
        ok.json.return_value = {"ok": True}
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", side_effect=[limited, ok]
        ), patch(
            "financial_data_engineering_spark.sources.base_client.time.sleep"
        ) as mock_sleep:
            out = stub._get("/t", use_cache=False)
        mock_sleep.assert_any_call(2)
        assert out == {"ok": True}

    def test_429_exhaustion_raises_http_error(self, stub):
        """Every attempt 429ing must surface as an HTTPError, not the
        'exceptions must derive from BaseException' TypeError a bare None
        raise would produce."""
        limited = MagicMock(status_code=429, headers={})
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", return_value=limited
        ), patch("financial_data_engineering_spark.sources.base_client.time.sleep"):
            with pytest.raises(requests.HTTPError, match="429"):
                stub._get("/t", max_retries=1, use_cache=False)

    def test_connection_errors_exhaust_and_raise(self, stub):
        with patch.object(stub, "_wait_for_token"), patch.object(
            stub._session, "get", side_effect=requests.ConnectionError("boom")
        ), patch("financial_data_engineering_spark.sources.base_client.time.sleep"):
            with pytest.raises(requests.ConnectionError):
                stub._get("/t", max_retries=2, use_cache=False)
        assert stub.api_calls == 3  # initial + 2 retries


class TestTelemetry:
    def test_reset_and_avg_latency(self, stub):
        stub.api_calls = 3
        stub._latencies.extend([0.1, 0.3])
        t = stub.get_telemetry()
        assert t["api_calls"] == 3
        assert abs(t["avg_latency"] - 0.2) < 1e-9
        stub.reset_telemetry()
        assert stub.get_telemetry() == {
            "source": "stub",
            "api_calls": 0,
            "cache_hits": 0,
            "errors": 0,
            "avg_latency": 0.0,
        }


# -- USGS ---------------------------------------------------------------------


class TestUSGS:
    def test_flattens_geojson(self, spark, mock_geojson):
        client = USGSClient(spark)
        with patch.object(client, "_get", return_value=mock_geojson):
            result = client.extract(max_results=10)
        assert result.success
        assert result.records == 3
        rows = {r["id"]: r for r in result.data.collect()}
        q1 = rows["q1"]
        assert q1["magnitude"] == 7.1
        assert q1["latitude"] == 35.68
        assert q1["longitude"] == 139.69
        assert q1["depth"] == 30.0
        assert q1["time"].year == 2023
        assert rows["q3"]["depth"] is None  # 2-element coordinates

    def test_pagination_stops_on_cap_and_short_page(self, spark, mock_geojson):
        client = USGSClient(spark)
        with patch.object(client, "_get", return_value=mock_geojson) as g:
            result = client.extract(max_results=5)
        # page1: 3 features (limit 5) -> short? no, 3 < 5 stops immediately
        assert g.call_count == 1
        assert result.records == 3

    def test_empty_result_keeps_schema(self, spark):
        client = USGSClient(spark)
        with patch.object(client, "_get", return_value={"features": []}):
            result = client.extract()
        assert result.success and result.records == 0
        assert result.data.columns == [
            "id", "magnitude", "place", "time",
            "latitude", "longitude", "depth", "type", "status",
        ]

    def test_error_never_raises(self, spark):
        client = USGSClient(spark)
        with patch.object(client, "_get", side_effect=RuntimeError("api down")):
            result = client.extract()
        assert not result.success
        assert "api down" in result.error
        assert result.data is None


# -- Open-Meteo ---------------------------------------------------------------


class TestOpenMeteo:
    def test_parallel_array_pivot(self, spark, mock_weather):
        client = OpenMeteoClient(spark)
        with patch.object(client, "_get", return_value=mock_weather):
            result = client.extract(locations=[(40.71, -74.01, "New York")])
        assert result.success and result.records == 3
        rows = result.data.orderBy("date").collect()
        assert rows[0]["location"] == "New York"
        assert rows[0]["temperature_max"] == 5.2
        assert rows[1]["precipitation"] == 12.5
        # requested but absent from the response -> NULL column
        assert all(r["wind_speed_max"] is None for r in rows)
        assert rows[0]["date"].day == 1

    def test_multiple_locations_union(self, spark, mock_weather):
        client = OpenMeteoClient(spark)
        with patch.object(client, "_get", return_value=mock_weather):
            result = client.extract(
                locations=[(1.0, 2.0, "A"), (3.0, 4.0, "B")]
            )
        assert result.records == 6
        assert set(
            r["location"] for r in result.data.select("location").collect()
        ) == {"A", "B"}

    def test_missing_daily_axis_yields_empty(self, spark):
        client = OpenMeteoClient(spark)
        with patch.object(client, "_get", return_value={"daily": {}}):
            result = client.extract(locations=[(0.0, 0.0, "X")])
        assert result.success and result.records == 0

    def test_large_location_set_fans_out(self, spark, mock_weather):
        """Above the threshold, locations go through
        parallelize(locations).mapPartitions (SURVEY §2.A6) — the driver's
        _get is never called, records stay distributed, api_calls books
        actual executor HTTP attempts via the accumulator."""
        client = OpenMeteoClient(spark)
        n_locs = 10
        locs = [(float(i), float(i), f"L{i}") for i in range(n_locs)]

        def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
            assert "/archive" in url
            daily = mock_weather["daily"]

            def fetch(locs_iter):
                import json as _json

                for lat, lon, name in locs_iter:
                    acc.add(1)
                    yield _json.dumps({"location": name, "daily": daily})

            return fetch

        with patch.object(client, "_get") as g, patch.object(
            client, "_location_fetcher", side_effect=fake_fetcher
        ):
            result = client.extract(locations=locs)
        g.assert_not_called()  # every location fetched executor-side
        assert result.success
        assert result.records == n_locs * 3  # 3 days per location
        assert client.last_fanout_partitions == client.FANOUT_MAX_TASKS
        assert client.fanout_http_attempts == n_locs
        assert client.api_calls == n_locs
        assert result.data.storageLevel.useMemory  # persisted, not collected
        names = {
            r["location"] for r in result.data.select("location").collect()
        }
        assert names == {f"L{i}" for i in range(n_locs)}

    def test_fanout_location_failure_surfaces_as_error_result(self, spark):
        """Transport failure on any location fails the extraction loudly
        (error result) instead of silently dropping that location."""
        client = OpenMeteoClient(spark)
        locs = [(float(i), float(i), f"L{i}") for i in range(9)]

        def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
            def fetch(locs_iter):
                for lat, lon, name in locs_iter:
                    if name == "L5":
                        raise RuntimeError("all fetch attempts failed: boom")
                    yield "{}"

            return fetch

        with patch.object(client, "_get"), patch.object(
            client, "_location_fetcher", side_effect=fake_fetcher
        ):
            result = client.extract(locations=locs)
        assert not result.success
        assert "all fetch attempts failed" in result.error


# -- World Bank ---------------------------------------------------------------


class TestWorldBank:
    def test_envelope_and_normalization(self, spark, mock_worldbank):
        client = WorldBankClient(spark)
        with patch.object(client, "_get", return_value=mock_worldbank):
            result = client.extract(indicators=["NY.GDP.PCAP.CD"])
        assert result.success and result.records == 3
        rows = {r["country_name"]: r for r in result.data.collect()}
        assert rows["United States"]["country_code"] == "USA"
        assert rows["United Kingdom"]["country_code"] == "GB"  # iso3 fallback
        assert rows["United Kingdom"]["value"] is None  # coerce non-numeric
        assert rows["Japan"]["value"] is None
        assert rows["United States"]["year"] == 2023

    def test_multi_page_walk(self, spark, mock_worldbank):
        client = WorldBankClient(spark)
        page1 = [dict(mock_worldbank[0], pages=2), mock_worldbank[1]]
        page2 = [dict(mock_worldbank[0], page=2, pages=2), mock_worldbank[1][:1]]
        with patch.object(client, "_get", side_effect=[page1, page2]) as g:
            result = client.extract(indicators=["NY.GDP.PCAP.CD"])
        assert g.call_count == 2
        assert result.records == 4

    def test_malformed_envelope_stops(self, spark):
        client = WorldBankClient(spark)
        with patch.object(client, "_get", return_value={"oops": 1}):
            result = client.extract(indicators=["X"])
        assert result.success and result.records == 0

    def test_large_page_set_fans_out(self, spark, mock_worldbank):
        """Pages 2..N above the threshold go through
        parallelize(pages).mapPartitions (SURVEY §2.A5): one driver _get for
        page 1, every remaining page fetched executor-side, task count
        capped so the per-task rate budget stays meaningful."""
        client = WorldBankClient(spark)
        n_pages = 20
        page1 = [dict(mock_worldbank[0], pages=n_pages), mock_worldbank[1]]

        def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
            assert "NY.GDP.PCAP.CD" in url
            rec = mock_worldbank[1][0]

            def fetch(pages_iter):
                import json as _json

                # shipped by value to executors; one JSON record per page,
                # one attempt booked per page
                for p in pages_iter:
                    acc.add(1)
                    yield _json.dumps(dict(rec, date=str(p)))

            return fetch

        with patch.object(client, "_get", side_effect=[page1]) as g, patch.object(
            client, "_page_fetcher", side_effect=fake_fetcher
        ):
            result = client.extract(indicators=["NY.GDP.PCAP.CD"])
        assert g.call_count == 1  # only page 1 touches the driver path
        assert result.success
        # 3 page-1 records + one per fanned-out page 2..20
        assert result.records == 3 + (n_pages - 1)
        assert client.last_fanout_partitions == client.FANOUT_MAX_TASKS
        # api_calls books ACTUAL executor HTTP attempts via accumulator
        # (page 1's increment lives inside the mocked-out _get)
        assert client.fanout_http_attempts == n_pages - 1
        assert client.api_calls == n_pages - 1
        # every page arrived exactly once, regardless of task ordering
        years = {r["year"] for r in result.data.collect()}
        assert set(range(2, n_pages + 1)) <= years

    def test_fanout_keeps_data_plane_distributed(self, spark, mock_worldbank):
        """The fan-out result reaches the driver only as a DataFrame: no
        .collect() of records anywhere in the source path. The frame's
        lineage starts from a distributed RDD scan, and re-collecting
        result.data replays the persisted cache, not the fetch."""
        client = WorldBankClient(spark)
        n_pages = 12
        page1 = [dict(mock_worldbank[0], pages=n_pages), mock_worldbank[1]]
        calls = {"n": 0}

        def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
            rec = mock_worldbank[1][0]

            def fetch(pages_iter):
                import json as _json

                for p in pages_iter:
                    acc.add(1)
                    yield _json.dumps(dict(rec, date=str(p)))

            return fetch

        with patch.object(client, "_get", side_effect=[page1]), patch.object(
            client, "_page_fetcher", side_effect=fake_fetcher
        ):
            result = client.extract(indicators=["NY.GDP.PCAP.CD"])
        assert result.success
        # persisted: second action must not re-run the fetch (accumulator
        # value would double if lineage re-executed)
        before = client.fanout_http_attempts
        result.data.count()
        result.data.count()
        assert client.fanout_http_attempts == before
        assert result.data.storageLevel.useMemory  # persisted, not collected

    def test_fanout_page_failure_surfaces_as_error_result(
        self, spark, mock_worldbank
    ):
        """A page whose every attempt fails must fail the extraction (error
        result), never silently shrink the output — the executor fetch
        raises on attempt exhaustion and extract's lifecycle try catches it
        at the materializing action."""
        client = WorldBankClient(spark)
        n_pages = 12
        page1 = [dict(mock_worldbank[0], pages=n_pages), mock_worldbank[1]]

        def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
            def fetch(pages_iter):
                for p in pages_iter:
                    if p == 7:
                        raise RuntimeError(f"page {p}: all fetch attempts failed")
                    yield "{}"

            return fetch

        with patch.object(client, "_get", side_effect=[page1]), patch.object(
            client, "_page_fetcher", side_effect=fake_fetcher
        ):
            result = client.extract(indicators=["NY.GDP.PCAP.CD"])
        assert not result.success
        assert "all fetch attempts failed" in result.error


# -- materialization: one counting job per extraction -------------------------


def _persisted_count_jobs(spark, job_count) -> int:
    """Jobs of the first ``count()`` on a freshly persisted frame: the
    count that also fills the cache (under AQE, a cache-fill job plus the
    aggregate's map-stage and result jobs)."""
    probe = spark.createDataFrame([("x",)], "raw string").persist()
    try:
        return job_count(probe.count)[1]
    finally:
        probe.unpersist()


def _cache_loaded(spark, df) -> bool:
    """``df`` is registered in the cache AND its blocks are built, so the
    next action scans them instead of replaying the lineage."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return bool(
        cached.isDefined()
        and cached.get().cachedRepresentation().cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


def _assert_released(spark, df):
    """``release_intermediates`` frees the extraction frame's blocks."""
    from financial_data_engineering_spark.llm.caching import (
        release_intermediates,
    )

    assert release_intermediates() >= 1
    level = df.storageLevel
    assert not (level.useMemory or level.useDisk)
    assert not _cache_loaded(spark, df)


def _wb_fanout_fetcher(rec):
    def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
        def fetch(pages_iter):
            import json as _json

            for p in pages_iter:
                acc.add(1)
                yield _json.dumps(dict(rec, date=str(p)))

        return fetch

    return fake_fetcher


def _meteo_fanout_fetcher(daily):
    def fake_fetcher(url, base_params, headers, delay_s, n_slices, acc):
        def fetch(locs_iter):
            import json as _json

            for lat, lon, name in locs_iter:
                acc.add(1)
                yield _json.dumps({"location": name, "daily": daily})

        return fetch

    return fake_fetcher


class TestMaterializeOnce:
    """``_build_result`` persists the extraction frame (tracked) and its
    ``records`` count is the one action that fills the cache: no path
    counts twice, later actions never re-fetch or re-parse, and
    ``release_intermediates`` frees the blocks on every path."""

    def test_driver_path_counts_once_and_keeps_the_parse(
        self, spark, mock_geojson, job_count
    ):
        one = _persisted_count_jobs(spark, job_count)
        client = USGSClient(spark)
        with patch.object(client, "_get", return_value=mock_geojson):
            result, jobs = job_count(lambda: client.extract(max_results=10))
        assert result.success and result.records == 3
        assert jobs == one
        # the blocks were built by that count: a second action scans the
        # cache, with no from_json re-parse of the driver-side payloads
        assert result.data.storageLevel.useMemory
        assert _cache_loaded(spark, result.data)
        assert result.data.count() == 3
        _assert_released(spark, result.data)

    def test_world_bank_fanout_counts_once(self, spark, mock_worldbank, job_count):
        one = _persisted_count_jobs(spark, job_count)
        client = WorldBankClient(spark)
        page1 = [dict(mock_worldbank[0], pages=12), mock_worldbank[1]]
        with patch.object(client, "_get", side_effect=[page1]), patch.object(
            client, "_page_fetcher",
            side_effect=_wb_fanout_fetcher(mock_worldbank[1][0]),
        ):
            result, jobs = job_count(
                lambda: client.extract(indicators=["NY.GDP.PCAP.CD"])
            )
        assert result.success and result.records == 3 + 11
        assert jobs == one
        assert client.fanout_http_attempts == client.api_calls == 11
        assert _cache_loaded(spark, result.data)
        _assert_released(spark, result.data)

    def test_open_meteo_fanout_counts_once(self, spark, mock_weather, job_count):
        one = _persisted_count_jobs(spark, job_count)
        client = OpenMeteoClient(spark)
        locs = [(float(i), float(i), f"L{i}") for i in range(9)]
        with patch.object(client, "_get"), patch.object(
            client, "_location_fetcher",
            side_effect=_meteo_fanout_fetcher(mock_weather["daily"]),
        ):
            result, jobs = job_count(lambda: client.extract(locations=locs))
        assert result.success and result.records == 9 * 3
        assert jobs == one
        assert client.fanout_http_attempts == client.api_calls == 9
        assert _cache_loaded(spark, result.data)
        _assert_released(spark, result.data)
