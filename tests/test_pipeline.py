"""End-to-end nightly-run pipeline tests: watermark precedence/chaining,
write-then-log ordering, replay + late-correction through the full path
(reference control flow, /root/reference/script.js:228-266)."""

from __future__ import annotations

import datetime as dt

import pytest

from trafsys_data_transfer_spark.plans.pipeline import read_target, run_pipeline
from trafsys_data_transfer_spark.plans.watermark import RunLog, resolve_window
from trafsys_data_transfer_spark.schemas import TRAFFIC_RAW_SCHEMA

TODAY = dt.date(2024, 2, 1)


def _fetcher(spark, rows_by_window):
    """Source stub: returns raw-shaped records per requested window —
    stands in for getTrafsysData (script.js:141-166)."""

    def fetch(date_from, date_to):
        rows = rows_by_window.get((date_from, date_to), [])
        return spark.createDataFrame(rows, schema=TRAFFIC_RAW_SCHEMA)

    return fetch


def _raw(site, loc, iso, ins, outs, internal=False):
    return {
        "SiteCode": site,
        "Location": loc,
        "IsInternal": internal,
        "PeriodEnding": iso,
        "Ins": ins,
        "Outs": outs,
    }


def test_resolve_window_precedence():
    # first run, no args: yesterday..yesterday (script.js:12, 54-55)
    assert resolve_window(None, today=TODAY) == ("2024-01-31", "2024-01-31")
    # CLI overrides everything (script.js:53-58)
    assert resolve_window(None, "2024-01-01", "2024-01-05", TODAY) == (
        "2024-01-01",
        "2024-01-05",
    )


def test_incremental_chain_and_correction(spark, tmp_path):
    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")
    windows = {
        ("2024-01-31", "2024-01-31"): [
            _raw("A", "door", "2024-01-31T10:00:00", 5, 1),
            _raw("A", "door", "2024-01-31T11:00:00", 6, 2, internal=True),
        ],
        # next run: from == previous ToDate (boundary refetched, corrected)
        ("2024-01-31", "2024-02-01"): [
            _raw("A", "door", "2024-01-31T11:00:00", 60, 20),
            _raw("B", "door", "2024-02-01T09:00:00", 3, 3),
        ],
    }
    fetch = _fetcher(spark, windows)

    info1 = run_pipeline(spark, fetch, target, log_path, today=TODAY)
    assert (info1["FromDate"], info1["ToDate"], info1["Records"]) == (
        "2024-01-31",
        "2024-01-31",
        2,
    )

    # watermark chains: next default from == last ToDate
    info2 = run_pipeline(
        spark, fetch, target, log_path, today=TODAY + dt.timedelta(days=1)
    )
    assert info2["FromDate"] == "2024-01-31"
    assert info2["ToDate"] == "2024-02-01"

    st = {
        (r.SiteCode, r.PeriodEnding): (r.IsInternal, r.Ins, r.Outs)
        for r in read_target(spark, target).collect()
    }
    assert len(st) == 3
    # late correction applied in place (last write wins)
    assert st[("A", dt.datetime(2024, 1, 31, 11))] == (None, 60, 20) or st[
        ("A", dt.datetime(2024, 1, 31, 11))
    ][1:] == (60, 20)
    # untouched row survives, bool→int cast happened
    assert st[("A", dt.datetime(2024, 1, 31, 10))][1:] == (5, 1)
    assert st[("B", dt.datetime(2024, 2, 1, 9))][1:] == (3, 3)


def test_failed_run_does_not_advance_watermark(spark, tmp_path):
    """Write-then-log ordering (script.js:255-256): a failing sink leaves
    no log row, so the same window is retried next run."""
    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")

    def broken_fetch(date_from, date_to):
        raise RuntimeError("api down")

    with pytest.raises(RuntimeError):
        run_pipeline(spark, broken_fetch, target, log_path, today=TODAY)

    assert RunLog(spark, log_path).latest() is None

    # recovery run over the same window succeeds and logs
    fetch = _fetcher(
        spark,
        {("2024-01-31", "2024-01-31"): [_raw("A", "door", "2024-01-31T10:00:00", 1, 1)]},
    )
    info = run_pipeline(spark, fetch, target, log_path, today=TODAY)
    assert info["FromDate"] == "2024-01-31"
    assert RunLog(spark, log_path).latest()["Records"] == 1


def test_empty_batch_advances_watermark_without_sink(spark, tmp_path):
    """T5 (script.js:183): empty batch skips the sink but still logs the
    run — matching the reference, which logs runInfo unconditionally on
    the success path (script.js:256)."""
    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")
    fetch = _fetcher(spark, {})  # every window empty
    info = run_pipeline(spark, fetch, target, log_path, today=TODAY)
    assert info["Records"] == 0
    import os

    assert not os.path.exists(target)  # sink never created
    assert RunLog(spark, log_path).latest()["ToDate"] == "2024-01-31"


def _files(path):
    """Every file under ``path`` with its size and mtime."""
    import os

    paths = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return {p: (os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in paths}


NIGHT1 = {
    ("2024-01-31", "2024-01-31"): [
        _raw("A", "door", "2024-01-31T10:00:00", 5, 1),
        _raw("A", "door", "2024-01-31T11:00:00", 6, 2, internal=True),
    ]
}


@pytest.mark.parametrize(
    "bad",
    [
        _raw(None, "door", "2024-02-01T09:00:00", 3, 3),
        _raw("B", "door", None, 3, 3),
        _raw("B", "door", "not-a-timestamp", 3, 3),
        _raw("B", "door", "2024-02-01T09:00:00", 3, -1),
        _raw("B", "door", "2024-01-31T10:00:00", -4, 3),
    ],
    ids=["null_site", "null_period_ending", "unparseable_period_ending", "negative_outs", "negative_ins"],
)
def test_bad_batch_raises_before_merge_and_keeps_watermark(spark, tmp_path, bad):
    """A batch with a null PK column or a negative count fails the quality
    gate before the MERGE writes anything: the target's files and the run
    log's latest row are unchanged, so the window is retried next run.  A
    null ``PeriodEnding`` would otherwise land in a null ``PeriodDate``
    partition; an unparseable one fails the parse under ANSI mode (and
    parses to null, caught by the gate, without it)."""
    from trafsys_data_transfer_spark.operators.observe import QualityViolation

    expected = Exception if bad["PeriodEnding"] == "not-a-timestamp" else QualityViolation
    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")
    run_pipeline(spark, _fetcher(spark, NIGHT1), target, log_path, today=TODAY)
    files, latest = _files(target), RunLog(spark, log_path).latest()

    window = ("2024-01-31", "2024-02-01")
    good = _raw("A", "door", "2024-01-31T10:00:00", 50, 10)
    fetch = _fetcher(spark, {window: [good, bad]})
    with pytest.raises(expected):
        run_pipeline(spark, fetch, target, log_path, today=TODAY + dt.timedelta(days=1))

    assert _files(target) == files
    assert RunLog(spark, log_path).latest() == latest


def test_crash_after_merge_before_log_append_retries_idempotently(
    spark, tmp_path, monkeypatch
):
    """A crash between the MERGE commit and the run-log append leaves the
    watermark where it was; the retry re-fetches the same window and
    re-MERGEs it, ending equal to one clean run with one log row."""
    clean_target = str(tmp_path / "clean")
    clean_log = str(tmp_path / "clean_log")
    run_pipeline(spark, _fetcher(spark, NIGHT1), clean_target, clean_log, today=TODAY)

    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")
    fetch = _fetcher(spark, NIGHT1)

    def crash(self, run_info):
        raise RuntimeError("injected crash before the run-log append")

    with monkeypatch.context() as m:
        m.setattr(RunLog, "append", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(spark, fetch, target, log_path, today=TODAY)
    assert read_target(spark, target).count() == 2  # the MERGE did commit
    assert RunLog(spark, log_path).latest() is None

    info = run_pipeline(spark, fetch, target, log_path, today=TODAY)
    assert (info["FromDate"], info["ToDate"], info["Records"]) == ("2024-01-31", "2024-01-31", 2)
    cols = ["SiteCode", "Location", "PeriodEnding", "IsInternal", "Ins", "Outs"]
    assert sorted(read_target(spark, target).select(cols).collect()) == sorted(
        read_target(spark, clean_target).select(cols).collect()
    )
    assert spark.read.parquet(log_path).count() == 1


def test_incremental_night_job_ceiling(spark, tmp_path):
    """One incremental night launches at most 9 Spark jobs: the run-log
    read, one grouped action over the persisted batch (count, touched
    partitions and quality gates together), the MERGE and the run-log
    append.  A second pass over the batch or a schema-inference job
    would push it over."""
    target = str(tmp_path / "target")
    log_path = str(tmp_path / "runlog")
    windows = dict(NIGHT1)
    windows[("2024-01-31", "2024-02-01")] = [
        _raw("A", "door", "2024-01-31T11:00:00", 60, 20),
        _raw("B", "door", "2024-02-01T09:00:00", 3, 3),
    ]
    fetch = _fetcher(spark, windows)
    run_pipeline(spark, fetch, target, log_path, today=TODAY)

    sc = spark.sparkContext
    group = "test_incremental_night_job_ceiling"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, fetch, target, log_path, today=TODAY + dt.timedelta(days=1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 9, jobs


@pytest.mark.parametrize(
    "info",
    [
        {
            "FromDate": "2024-01-30",
            "ToDate": "2024-01-31",
            "Records": 9696,
            "AccessToken": "tok-123",
            "AccessTokenExpiresAt": dt.datetime(2024, 2, 1, 6, 30, 15, 123456),
            "createdAt": dt.datetime(2024, 1, 31, 23, 59, 59, 999999),
        },
        {
            "FromDate": "2024-01-31",
            "ToDate": "2024-01-31",
            "Records": 0,
            "AccessToken": None,
            "AccessTokenExpiresAt": None,
            "createdAt": dt.datetime(2024, 2, 1, 0, 0, 1),
        },
    ],
    ids=["token", "no_token"],
)
def test_run_log_row_reads_back_as_created_dataframe_row(spark, tmp_path, info):
    """The row ``RunLog.append`` writes reads back with the schema and
    values of a ``createDataFrame`` row of ``RUN_LOG_SCHEMA`` (the format
    existing run logs hold): naive timestamps keep their wall-clock value
    and a missing token stays null."""
    from trafsys_data_transfer_spark.schemas import RUN_LOG_SCHEMA

    log_path, ref_path = str(tmp_path / "runlog"), str(tmp_path / "ref")
    RunLog(spark, log_path).append(info)
    spark.createDataFrame(
        [{f.name: info.get(f.name) for f in RUN_LOG_SCHEMA.fields}], schema=RUN_LOG_SCHEMA
    ).write.parquet(ref_path)

    got, want = spark.read.parquet(log_path), spark.read.parquet(ref_path)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    row = RunLog(spark, log_path).latest()
    assert row.asDict() == {f.name: info[f.name] for f in RUN_LOG_SCHEMA.fields}


def test_approx_percentile_within_tolerance_of_exact(spark, sf_dir):
    """The t-digest estimate must land near the exact percentile (the
    rows-only bench query's accuracy claim)."""
    from pyspark.sql import functions as F
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events")
    row = events.agg(
        F.percentile("value", F.lit(0.95)).alias("exact"),
        F.approx_percentile("value", F.lit(0.95), F.lit(1000)).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / max(abs(row["exact"]), 1e-9) < 0.05


def test_approx_quantile_certificate_load_bearing(spark, sf_dir):
    """The strict per-group certificate holds on the real estimates, and
    a deliberately wrong estimate fails through the SAME helper — the
    within booleans are load-bearing, not decorative."""
    from pyspark.sql import functions as F
    from trafsys_data_transfer_spark.plans.relational import (
        approx_quantile_certificate,
        events_value_approx_quantiles,
    )
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    good = events_value_approx_quantiles(spark, sf_dir).collect()
    assert good and all(r.p50_within and r.p95_within for r in good)

    events = load_table(spark, sf_dir, "events")
    vmax = events.agg(F.max("value")).first()[0]
    bogus = events.groupBy("event_type").agg(
        (F.max("value") + F.lit(1.0)).alias("p50_approx"),
        F.lit(float(vmax) + 1.0).alias("p95_approx"),
    )
    bad = approx_quantile_certificate(events, bogus).collect()
    assert all(not r.p50_within for r in bad)


def test_equidepth_certificate_band_is_tight(spark, sf_dir):
    """The depth band (2·ε·N + 1) is far narrower than an empty or doubled
    bucket's deviation (N/8), so a broken sketch CAN emit FALSE — the
    certificate boolean is reachable-negative, not tautological."""
    from trafsys_data_transfer_spark.operators.quantiles import EPS
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    n = load_table(spark, sf_dir, "events").count()
    assert 2 * EPS * n + 1 < n / 8


def test_binary_file_ingestion(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.multimodal import read_media_dir

    (tmp_path / "a.png").write_bytes(b"\x89PNG fake")
    (tmp_path / "b.wav").write_bytes(b"RIFF fake wav")
    (tmp_path / "notes.txt").write_text("not media")
    df = read_media_dir(spark, str(tmp_path), glob="*.{png,wav}")
    rows = {r["extension"]: bytes(r["payload"]) for r in df.collect()}
    assert rows == {"png": b"\x89PNG fake", "wav": b"RIFF fake wav"}
