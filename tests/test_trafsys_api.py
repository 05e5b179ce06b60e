"""REST source adapter semantics (S1/S2, §3.3) with a fake transport — no
network.  Each behavior is pinned to the reference lines it mirrors."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from trafsys_data_transfer_spark.sources.trafsys_api import (
    TokenProvider,
    TrafsysApiError,
    fetch_traffic_records,
    fetch_window_partitioned,
    land_records,
    make_fetch_window,
    read_landed,
    sub_windows,
)

BASE = "https://example.test/rest/"

RECORDS = [
    {
        "SiteCode": "S1",
        "Location": "door",
        "IsInternal": False,
        "PeriodEnding": "2024-01-01T10:00:00",
        "Ins": 5,
        "Outs": 3,
    },
    {
        "SiteCode": "S2",
        "Location": "gate",
        "IsInternal": True,
        "PeriodEnding": "2024-01-01T11:00:00",
        "Ins": 7,
        "Outs": 2,
    },
]


class FakeApi:
    """Scriptable transport: records every call, serves tokens and traffic."""

    def __init__(self, expires="Mon, 06 Jan 2025 12:00:00 GMT", traffic=None):
        self.calls = []
        self.expires = expires
        self.traffic = RECORDS if traffic is None else traffic
        self.fail_with_401_times = 0
        self.tokens_issued = 0

    def __call__(self, method, url, params=None, data=None, headers=None):
        self.calls.append((method, url, params, data, headers))
        if url.endswith("/token"):
            assert data["grant_type"] == "password"  # script.js:72
            self.tokens_issued += 1
            return 200, json.dumps(
                {"access_token": f"tok{self.tokens_issued}", ".expires": self.expires}
            )
        if self.fail_with_401_times > 0:
            self.fail_with_401_times -= 1
            return 401, "expired"
        return 200, json.dumps(self.traffic)


def make_tokens(api, now=None):
    return TokenProvider(
        BASE, "u", "p", api, now=now or (lambda: dt.datetime(2025, 1, 6, 10, 0, 0))
    )


def test_token_cached_until_expiry_minus_wiggle():
    api = FakeApi()
    clock = {"t": dt.datetime(2025, 1, 6, 10, 0, 0)}
    tokens = make_tokens(api, now=lambda: clock["t"])
    assert tokens.token() == "tok1"
    assert tokens.token() == "tok1"  # cached (script.js:37-47)
    assert api.tokens_issued == 1
    # 11:54 is within the 5-minute wiggle of the 12:00 expiry → refresh
    clock["t"] = dt.datetime(2025, 1, 6, 11, 56, 0)
    assert tokens.token() == "tok2"  # script.js:41
    assert api.tokens_issued == 2


def test_fetch_sends_reference_query_params():
    api = FakeApi()
    fetch_traffic_records(BASE, make_tokens(api), "2024-01-01", "2024-01-02", api)
    method, url, params, _, headers = api.calls[-1]
    assert (method, url) == ("GET", BASE + "api/traffic")
    # script.js:143-149: all sites, internal included, hourly grain
    assert params == {
        "SiteCode": "",
        "IncludeInternalLocations": "true",
        "DataSummedByDay": "false",
        "DateFrom": "2024-01-01",
        "DateTo": "2024-01-02",
    }
    assert headers["Authorization"] == "Bearer tok1"


def test_401_retries_once_with_sleep_and_fresh_token():
    api = FakeApi()
    api.fail_with_401_times = 1
    slept = []
    out = fetch_traffic_records(
        BASE, make_tokens(api), "2024-01-01", "2024-01-01", api, sleep=slept.append
    )
    assert out == RECORDS
    assert slept == [1.0]  # script.js:221-223
    assert api.tokens_issued == 2  # forced refresh (script.js:243-254)
    retry_headers = api.calls[-1][4]
    assert retry_headers["Authorization"] == "Bearer tok2"


def test_second_401_propagates():
    api = FakeApi()
    api.fail_with_401_times = 2  # retry also fails → raise (single retry only)
    with pytest.raises(TrafsysApiError) as e:
        fetch_traffic_records(
            BASE, make_tokens(api), "2024-01-01", "2024-01-01", api, sleep=lambda s: None
        )
    assert e.value.status == 401


def test_non_iterable_payload_rejected():
    api = FakeApi(traffic={"unexpected": "shape"})
    with pytest.raises(TrafsysApiError):  # script.js:156-159
        fetch_traffic_records(BASE, make_tokens(api), "2024-01-01", "2024-01-01", api)


def test_land_and_read_roundtrip(spark):
    staging = land_records(RECORDS)
    df = read_landed(spark, staging)
    rows = {r["SiteCode"]: r for r in df.collect()}
    assert rows["S1"]["Ins"] == 5 and rows["S2"]["IsInternal"] is True


def test_fetch_window_feeds_pipeline(spark, tmp_path):
    """End-to-end: adapter → run_pipeline → MERGE target + run log."""
    from trafsys_data_transfer_spark.plans.pipeline import read_target, run_pipeline

    api = FakeApi()
    fetch = make_fetch_window(spark, BASE, make_tokens(api), api)
    info = run_pipeline(
        spark,
        fetch,
        target_path=str(tmp_path / "target"),
        run_log_path=str(tmp_path / "runlog"),
        cli_from="2024-01-01",
        cli_to="2024-01-01",
    )
    assert info["Records"] == 2
    assert read_target(spark, str(tmp_path / "target")).count() == 2


def test_reused_staging_dir_does_not_replay_earlier_nights(spark, tmp_path):
    """Two nights land into ONE caller-owned staging dir: night 2's
    ``Records`` counts only the rows delivered that night, not night 1's
    landed payload as well."""
    from trafsys_data_transfer_spark.plans.pipeline import read_target, run_pipeline

    target, runlog = str(tmp_path / "target"), str(tmp_path / "runlog")
    staging = str(tmp_path / "staging")
    night2 = [
        dict(RECORDS[0], PeriodEnding="2024-01-02T10:00:00"),
        dict(RECORDS[0], PeriodEnding="2024-01-02T11:00:00", Ins=9),
        dict(RECORDS[1], PeriodEnding="2024-01-02T12:00:00"),
    ]
    for day, traffic in (("2024-01-01", RECORDS), ("2024-01-02", night2)):
        api = FakeApi(traffic=traffic)
        fetch = make_fetch_window(spark, BASE, make_tokens(api), api, staging)
        info = run_pipeline(
            spark, fetch, target, runlog, cli_from=day, cli_to=day
        )
    assert info["Records"] == len(night2)
    assert len(os.listdir(staging)) == 2  # one landing dir per fetch
    assert read_target(spark, target).count() == len(RECORDS) + len(night2)


def test_sub_windows_cover_range_without_overlap():
    chunks = sub_windows("2024-01-01", "2024-01-20", days_per_chunk=7)
    assert chunks == [
        ("2024-01-01", "2024-01-07"),
        ("2024-01-08", "2024-01-14"),
        ("2024-01-15", "2024-01-20"),
    ]


def test_fetch_window_partitioned(spark):
    """Distributed backfill fetch: per-chunk GETs executed executor-side."""
    # Far-future expiry: the task-local TokenProvider runs on the real
    # clock, and the driver-seeded token must read as fresh there.
    api = FakeApi(expires="Mon, 06 Jan 2099 12:00:00 GMT")
    tokens = make_tokens(api)

    def transport_factory():
        # Executor-side stand-in: serves the same two records per chunk.
        def transport(method, url, params=None, data=None, headers=None):
            assert headers["Authorization"].startswith("Bearer ")
            return 200, json.dumps(RECORDS)

        return transport

    df = fetch_window_partitioned(
        spark, BASE, tokens, transport_factory, "2024-01-01", "2024-01-14", days_per_chunk=7
    )
    assert df.count() == 4  # 2 chunks × 2 records
    assert set(df.columns) == {
        "SiteCode", "Location", "IsInternal", "PeriodEnding", "Ins", "Outs"
    }


def test_permissive_read_quarantines_corrupt_lines(spark, tmp_path):
    from trafsys_data_transfer_spark.sources.trafsys_api import read_landed_permissive

    p = tmp_path / "batch.json"
    good = json.dumps(RECORDS[0])
    p.write_text(good + "\n" + "{not valid json at all\n" + json.dumps(RECORDS[1]) + "\n")
    clean, corrupt = read_landed_permissive(spark, str(tmp_path))
    assert clean.count() == 2
    bad = corrupt.collect()
    assert len(bad) == 1 and bad[0][0].startswith("{not valid")


def test_lenient_expires_formats():
    """script.js:51 parses .expires with JS `new Date()` — lenient.  Every
    plausible vendor spelling must parse; garbage yields None (token used,
    never cache-reused) instead of crashing the nightly run."""
    parse = TokenProvider.parse_expires
    want = dt.datetime(2025, 1, 6, 12, 0, 0)
    assert parse("Mon, 06 Jan 2025 12:00:00 GMT") == want
    assert parse("Mon, 06 Jan 2025 12:00:00") == want
    assert parse("2025-01-06T12:00:00") == want
    assert parse("2025-01-06 12:00:00") == want
    assert parse("2025-01-06T12:00:00+00:00") == want  # ISO with offset
    assert parse("not a timestamp") is None
    assert parse(None) is None


def test_unparseable_expires_forces_refresh_not_crash():
    api = FakeApi(expires="gibberish")
    tokens = make_tokens(api)
    assert tokens.token() == "tok1"
    assert tokens.token() == "tok2"  # no usable expiry → refetch each time
    assert api.tokens_issued == 2


def test_cross_run_token_reuse_skips_auth_post(spark, tmp_path):
    """Reference parity (script.js:37-52): the second nightly PROCESS reads
    the previous run's logged token and, if ≥5 min from expiry, makes zero
    token POSTs."""
    from trafsys_data_transfer_spark.plans.pipeline import run_pipeline

    target, runlog = str(tmp_path / "target"), str(tmp_path / "runlog")

    api1 = FakeApi()
    tokens1 = make_tokens(api1)
    fetch1 = make_fetch_window(spark, BASE, tokens1, api1)
    run_pipeline(
        spark, fetch1, target, runlog,
        cli_from="2024-01-01", cli_to="2024-01-01", tokens=tokens1,
    )
    assert api1.tokens_issued == 1

    # Fresh process: new transport, new provider — only the run log persists.
    api2 = FakeApi()
    tokens2 = make_tokens(api2)
    fetch2 = make_fetch_window(spark, BASE, tokens2, api2)
    run_pipeline(
        spark, fetch2, target, runlog,
        cli_from="2024-01-02", cli_to="2024-01-02", tokens=tokens2,
    )
    assert api2.tokens_issued == 0  # reused the logged token
    assert any(url.endswith("/api/traffic") for _, url, *_ in api2.calls)
    # The reused token is re-persisted for run 3.
    from trafsys_data_transfer_spark.plans.watermark import RunLog
    latest = RunLog(spark, runlog).latest()
    assert latest["AccessToken"] == "tok1"
    assert latest["AccessTokenExpiresAt"] is not None


def test_cross_run_expired_token_reauths(spark, tmp_path):
    """A logged token within the 5-minute wiggle of expiry is NOT reused."""
    from trafsys_data_transfer_spark.plans.pipeline import run_pipeline

    target, runlog = str(tmp_path / "target"), str(tmp_path / "runlog")
    api1 = FakeApi(expires="Mon, 06 Jan 2025 12:00:00 GMT")
    tokens1 = make_tokens(api1)
    fetch1 = make_fetch_window(spark, BASE, tokens1, api1)
    run_pipeline(
        spark, fetch1, target, runlog,
        cli_from="2024-01-01", cli_to="2024-01-01", tokens=tokens1,
    )

    api2 = FakeApi()
    # Second run's clock is 11:57 — inside expiry − 5 min → must re-auth.
    tokens2 = make_tokens(api2, now=lambda: dt.datetime(2025, 1, 6, 11, 57, 0))
    fetch2 = make_fetch_window(spark, BASE, tokens2, api2)
    run_pipeline(
        spark, fetch2, target, runlog,
        cli_from="2024-01-02", cli_to="2024-01-02", tokens=tokens2,
    )
    assert api2.tokens_issued == 1


def test_fetch_window_partitioned_retries_401_executor_side(spark):
    """A backfill task whose bearer token has expired must re-auth INSIDE
    the task (sleep 1 s, POST /token, retry once) instead of failing the
    job — the §3.3 retry on the executor path."""
    # Far-future expiry so the task ADOPTS the driver token (seed accepted
    # on the real clock) and the 401→refresh→retry path actually runs.
    api = FakeApi(expires="Mon, 06 Jan 2099 12:00:00 GMT")
    tokens = make_tokens(api)

    def transport_factory():
        state = {"fresh": False}

        def transport(method, url, params=None, data=None, headers=None):
            if url.endswith("/token"):
                state["fresh"] = True
                return 200, json.dumps(
                    {"access_token": "fresh", ".expires": "Mon, 06 Jan 2025 12:00:00 GMT"}
                )
            if not state["fresh"]:
                return 401, "expired"  # driver-fetched token rejected
            assert headers["Authorization"] == "Bearer fresh"
            return 200, json.dumps(RECORDS)

        return transport

    df = fetch_window_partitioned(
        spark, BASE, tokens, transport_factory, "2024-01-01", "2024-01-07", days_per_chunk=7
    )
    assert df.count() == 2  # 1 chunk × 2 records, via the retried call
