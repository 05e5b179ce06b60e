"""Structured Streaming layer: stream==batch equivalence, checkpointed
incremental pickup, watermark late-data semantics."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from trafsys_data_transfer_spark.plans.traffic import normalize_traffic, rollup_traffic
from trafsys_data_transfer_spark.plans.traffic_queries import traffic_raw_from_events
from trafsys_data_transfer_spark.sources.fixtures import load_table

from conftest import SF_DIR
from trafsys_data_transfer_spark.streaming.incremental import (
    drain,
    hourly_rollup_stream,
    read_traffic_stream,
    run_incremental_merge,
)


def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


ROLLUP_COLS = ["SiteCode", "Location", "PeriodEnding", "Ins", "Outs"]


def test_stream_rollup_equals_batch(spark, sf_dir):
    raw = traffic_raw_from_events(load_table(spark, sf_dir, "events"))
    staging = tempfile.mkdtemp(prefix="t_stream_eq_")
    raw.coalesce(1).write.mode("overwrite").json(staging)

    streamed = drain(
        hourly_rollup_stream(read_traffic_stream(spark, staging)),
        output_mode="complete",
    )
    batch = rollup_traffic(normalize_traffic(raw), grain="hour")
    assert _rows(streamed, ROLLUP_COLS) == _rows(batch, ROLLUP_COLS)


def test_incremental_merge_picks_up_only_new_files(spark):
    source = tempfile.mkdtemp(prefix="t_inc_src_")
    target = tempfile.mkdtemp(prefix="t_inc_tgt_") + "/target"
    ckpt = tempfile.mkdtemp(prefix="t_inc_ckpt_")

    def drop(records, name):
        with open(os.path.join(source, name), "w") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    rec = {
        "SiteCode": "S1",
        "Location": "door",
        "IsInternal": False,
        "PeriodEnding": "2024-01-01T10:00:00",
        "Ins": 5,
        "Outs": 3,
    }
    drop([rec], "b1.json")
    run_incremental_merge(spark, source, target, ckpt)
    first = spark.read.parquet(target)
    assert first.count() == 1
    assert first.collect()[0]["Ins"] == 5

    # Second drop: same PK with corrected counts + one brand-new PK.
    drop(
        [
            dict(rec, Ins=50),
            dict(rec, PeriodEnding="2024-01-01T11:00:00", Ins=7),
        ],
        "b2.json",
    )
    run_incremental_merge(spark, source, target, ckpt)
    final = {r["PeriodEnding"].isoformat(): r["Ins"] for r in spark.read.parquet(target).collect()}
    assert final == {"2024-01-01T10:00:00": 50, "2024-01-01T11:00:00": 7}

    # Third pass with no new files: a no-op, state unchanged.
    run_incremental_merge(spark, source, target, ckpt)
    assert spark.read.parquet(target).count() == 2


def test_crash_between_sink_and_offset_commit_replays_idempotently(spark):
    """The effectively-once invariant under a REAL failure ordering: the
    micro-batch MERGE commits to the sink, then the query dies before the
    checkpoint records the offset.  On restart the batch replays and the
    MERGE applies a second time — last-write-wins on the PK must make the
    replay invisible (at-least-once delivery + idempotent sink, the
    reference's core contract, script.js:182-215 + :54)."""
    import pytest

    from trafsys_data_transfer_spark.plans.pipeline import load_batch

    source = tempfile.mkdtemp(prefix="t_crash_src_")
    target = tempfile.mkdtemp(prefix="t_crash_tgt_") + "/target"
    ckpt = tempfile.mkdtemp(prefix="t_crash_ckpt_")
    with open(os.path.join(source, "b1.json"), "w") as f:
        for ins, pe in ((5, "2024-01-01T10:00:00"), (7, "2024-01-01T11:00:00")):
            f.write(
                json.dumps(
                    {
                        "SiteCode": "S1", "Location": "door", "IsInternal": False,
                        "PeriodEnding": pe, "Ins": ins, "Outs": 1,
                    }
                )
                + "\n"
            )

    crashed = {"done": False}

    def merge_batch(batch, batch_id):
        load_batch(batch.sparkSession, batch, target)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after sink commit")

    def start():
        return (
            read_traffic_stream(spark, source)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    # sink DID commit before the crash
    assert spark.read.parquet(target).count() == 2

    q2 = start()  # same checkpoint → the uncommitted batch replays
    q2.awaitTermination()
    final = {
        r["PeriodEnding"].isoformat(): (r["Ins"], r["Outs"])
        for r in spark.read.parquet(target).collect()
    }
    assert final == {
        "2024-01-01T10:00:00": (5, 1),
        "2024-01-01T11:00:00": (7, 1),
    }


def test_watermark_drops_too_late_rows(spark):
    """Append-mode aggregation with a 2h watermark: a row arriving after the
    watermark has passed its window is dropped — bounded state at scale."""
    source = tempfile.mkdtemp(prefix="t_wm_src_")

    def drop(records, name):
        with open(os.path.join(source, name), "w") as f:
            for r in records:
                f.write(json.dumps(r) + "\n")

    def rec(ts, ins):
        return {
            "SiteCode": "S1",
            "Location": "door",
            "IsInternal": False,
            "PeriodEnding": ts,
            "Ins": ins,
            "Outs": 0,
        }

    out_dir = tempfile.mkdtemp(prefix="t_wm_out_") + "/out"
    stream = hourly_rollup_stream(read_traffic_stream(spark, source), lateness="2 hours")
    writer = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="t_wm_ckpt_"))
    )

    # Batch 1 advances event time to 18:30 → watermark 16:30 after the batch.
    drop([rec("2024-01-01T10:15:00", 5), rec("2024-01-01T18:30:00", 1)], "b1.json")
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    # Batch 2: a 10:40 row is 6h older than the watermark → must be dropped;
    # an 18:45 row lands in a still-open window.
    drop([rec("2024-01-01T10:40:00", 100), rec("2024-01-01T18:45:00", 2)], "b2.json")
    # Batch 3 pushes event time far ahead so every open window finalises.
    drop([rec("2024-01-02T12:00:00", 9)], "b3.json")
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()

    got = {
        r["PeriodEnding"].isoformat(): r["Ins"]
        for r in spark.read.parquet(out_dir).collect()
    }
    # 10:00 window finalised with only the on-time row (late 100 dropped);
    # 18:00 window includes both the 18:30 and 18:45 rows.
    assert got.get("2024-01-01T11:00:00") == 5
    assert got.get("2024-01-01T19:00:00") == 3
    # The far-future window may still be open (no later event advances the
    # watermark past it) — it must NOT have emitted prematurely.
    assert "2024-01-02T13:00:00" not in got


# ---------------------------------------------------------------------------
# streaming SCD2 state function
# ---------------------------------------------------------------------------


class _FakeState:
    """Minimal GroupState stub for driving stateful fns directly."""

    def __init__(self, value=None, wm_ms=0):
        self._v = value
        self.hasTimedOut = False
        self.wm_ms = wm_ms
        self.timeout_ts = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts_ms):
        self.timeout_ts = ts_ms


def test_growth_state_fn_ignores_out_of_order_replay():
    """ADVICE r05 #2 regression: a replayed or out-of-order micro-batch
    delivering a day at or before the stored last-active-day must be a
    no-op — state never moves backward, later classifications unchanged."""
    import pandas as pd

    from trafsys_data_transfer_spark.streaming.growth import _growth_fn

    def batch(day_list):
        return pd.DataFrame(
            {"ts": [pd.Timestamp(1970, 1, 1) + pd.Timedelta(days=d)
                    for d in day_list]}
        )

    st = _FakeState()
    out1 = list(_growth_fn((7,), iter([batch([100, 101])]), st))
    assert out1[0]["cls"].tolist() == ["new", "retained"]
    assert st.get == (101,)
    # replay of day 100 (and a stale day 99): both skipped, state intact
    out2 = list(_growth_fn((7,), iter([batch([99, 100])]), st))
    assert out2 == []
    assert st.get == (101,)
    # next genuine day still classifies correctly off the unmoved state
    out3 = list(_growth_fn((7,), iter([batch([103])]), st))
    assert out3[0]["cls"].tolist() == ["resurrected"]
    assert st.get == (103,)


def test_scd2_state_fn_cross_batch_versions():
    import pandas as pd

    from trafsys_data_transfer_spark.streaming.scd2 import _scd2_fn

    def batch(rows):
        return pd.DataFrame(
            rows, columns=["user_id", "ts", "event_id", "event_type"]
        ).astype({"ts": "datetime64[ns]"})

    st = _FakeState()
    t = lambda m: pd.Timestamp(2024, 1, 1, 0, m)  # noqa: E731
    # batch 1: A A B — emits version 1 (A), leaves B open in state
    out1 = list(_scd2_fn((1,), iter([batch([(1, t(0), 10, "A"), (1, t(1), 11, "A"), (1, t(2), 12, "B")])]), st))
    assert len(out1) == 1
    assert out1[0]["event_type"].tolist() == ["A"]
    assert out1[0]["version"].tolist() == [1]
    assert st.get[0] == "B" and st.get[1] == 2
    # batch 2: B A — closes the cross-batch B version, opens A as v3
    out2 = list(_scd2_fn((1,), iter([batch([(1, t(5), 13, "B"), (1, t(6), 14, "A")])]), st))
    assert out2[0]["event_type"].tolist() == ["B"]
    assert out2[0]["version"].tolist() == [2]
    # the open B kept its ORIGINAL valid_from from batch 1
    assert out2[0]["valid_from"].tolist() == [t(2)]
    assert out2[0]["valid_to"].tolist() == [t(6)]
    assert st.get[0] == "A" and st.get[1] == 3
    # no-change batch: nothing emitted, state untouched
    out3 = list(_scd2_fn((1,), iter([batch([(1, t(9), 15, "A")])]), st))
    assert out3 == [] and st.get[1] == 3


def test_scd2_sink_replay_idempotent(spark, tmp_path):
    """Crash between sink write and offset commit replays the micro-batch:
    the batch-id-keyed overwrite sink must leave the target unchanged."""
    from trafsys_data_transfer_spark.streaming.incremental import batch_id_sink

    target = str(tmp_path / "out")
    sink = batch_id_sink(target, lambda batch: batch)
    df = spark.createDataFrame(
        [(1, "A", 10)], "user_id long, event_type string, version long"
    )
    sink(df, 3)
    once = sorted(tuple(r) for r in spark.read.parquet(target).drop("batch_id").collect())
    sink(df, 3)  # replay of the SAME micro-batch
    twice = sorted(tuple(r) for r in spark.read.parquet(target).drop("batch_id").collect())
    assert once == twice
    sink(df, 4)  # a genuinely new batch still lands
    assert spark.read.parquet(target).count() == 2


def test_trending_topk_accumulates_across_micro_batches(spark, sf_dir):
    """Counts for one (window, user) must accumulate across micro-batches:
    stage the events in TWO parquet drops (maxFilesPerTrigger=1 → two
    batches), drain, and compare against the one-shot batch rank."""
    import tempfile

    from pyspark.sql.window import Window as W

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    staging = tempfile.mkdtemp(prefix="tds_trend_2batch_")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.filter(F.col("event_id") % 2 == 1)
    half.coalesce(1).write.mode("append").parquet(staging)
    other.coalesce(1).write.mode("append").parquet(staging)
    counts = drain(
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt")),
        output_mode="complete",
    )
    rnk_w = W.partitionBy("w").orderBy(F.col("cnt").desc(), "user_id")
    drained = (
        counts.withColumn("rnk", F.row_number().over(rnk_w))
        .filter(F.col("rnk") <= 5)
        .select(F.col("w.start").alias("ws"), "rnk", "user_id", "cnt")
    )
    batch = (
        events.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rnk", F.row_number().over(rnk_w))
        .filter(F.col("rnk") <= 5)
        .select(F.col("w.start").alias("ws"), "rnk", "user_id", "cnt")
    )
    assert sorted(map(tuple, drained.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_streaming_cusum_equals_batch_across_slice_boundaries(spark):
    """A sustained level shift that starts in one micro-batch and crosses
    into the next must accumulate through keyed state: drained streaming
    flags == batch fold flags on the same constructed series."""
    import datetime as dt

    from pyspark.sql import Row

    from trafsys_data_transfer_spark.operators import drift
    from trafsys_data_transfer_spark.streaming import queries as sq

    rows, eid = [], 0
    # days 1-2: flat 2/h; day 3: 12/h (the shift) — slices are one day
    # each, so the statistic must carry from the day-2 batch into day 3.
    for day, hours, per in ((1, 24, 2), (2, 24, 2), (3, 24, 12)):
        for i in range(hours):
            base = dt.datetime(2024, 1, day) + dt.timedelta(hours=i)
            for j in range(per):
                eid += 1
                rows.append(Row(event_id=eid, user_id=1, event_type="view",
                                ts=base + dt.timedelta(minutes=j),
                                value=0.0, props="{}"))
    df = spark.createDataFrame(rows)
    orig_d, orig_q = drift.load_table, sq.load_table
    try:
        drift.load_table = lambda _s, _d, name: df
        sq.load_table = lambda _s, _d, name: df
        batch = drift.events_cusum_changepoints(spark, "unused").collect()
        stream = sq.streaming_cusum_changepoints(spark, "unused").collect()
    finally:
        drift.load_table = orig_d
        sq.load_table = orig_q
    assert batch, "planted shift must flag in batch"
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_streaming_cusum_frontier_capped_at_batch_spine_end(spark):
    """ADVICE r05 #1 regression: the final slice's sentinel sits at
    end-of-day, but the batch spine stops at the global max event hour h1.
    With the last event mid-day and the statistic still above the limit,
    an uncapped fold would flag hours h1+1..23 that the batch recurrence
    never evaluates.  The fold must cap its frontier at h1."""
    import datetime as dt

    from pyspark.sql import Row

    from trafsys_data_transfer_spark.operators import drift
    from trafsys_data_transfer_spark.streaming import queries as sq

    rows, eid = [], 0
    # days 1-2: flat 2/h for all 24 h; day 3: 12/h for hours 0-11 ONLY —
    # h1 lands at day-3 hour 11 while the sentinel lands at hour 23, and
    # the planted shift leaves the statistic far above the 5-sigma limit
    # at h1 (decay needs ~15 silent hours to drop below it).
    for day, hours, per in ((1, 24, 2), (2, 24, 2), (3, 12, 12)):
        for i in range(hours):
            base = dt.datetime(2024, 1, day) + dt.timedelta(hours=i)
            for j in range(per):
                eid += 1
                rows.append(Row(event_id=eid, user_id=1, event_type="view",
                                ts=base + dt.timedelta(minutes=j),
                                value=0.0, props="{}"))
    df = spark.createDataFrame(rows)
    orig_d, orig_q = drift.load_table, sq.load_table
    try:
        drift.load_table = lambda _s, _d, name: df
        sq.load_table = lambda _s, _d, name: df
        batch = drift.events_cusum_changepoints(spark, "unused").collect()
        stream = sq.streaming_cusum_changepoints(spark, "unused").collect()
    finally:
        drift.load_table = orig_d
        sq.load_table = orig_q
    assert batch, "planted shift must flag in batch"
    h1 = max(r["epoch_hour"] for r in batch)
    assert all(r["epoch_hour"] <= h1 for r in stream), (
        "stream flagged hours past the batch spine end h1"
    )
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))


def test_leftjoin_stream_emits_unmatched_views_via_watermark_eviction(
    spark, sf_dir
):
    """The outer join's null-click rows only exist if state EVICTION ran
    (an unmatched view is emitted when the watermark proves no click can
    arrive) — assert both populations are present and consistent with
    the batch join."""
    from trafsys_data_transfer_spark.streaming.queries import (
        streaming_view_click_leftjoin,
    )

    out = streaming_view_click_leftjoin(spark, sf_dir)
    matched = out.filter(F.col("click_id").isNotNull()).count()
    unmatched = out.filter(F.col("click_id").isNull()).count()
    assert matched > 0 and unmatched > 0
    ev = load_table(spark, sf_dir, "events")
    n_views = ev.filter(F.col("event_type") == "view").count()
    assert out.select("view_id").distinct().count() == n_views


def test_streaming_growth_classifies_across_slice_boundaries(spark):
    """A user active on days 1-2 (slice 1) and day 4 (slice 3) must be
    new -> retained -> resurrected, with the resurrection decided by
    STATE carried across micro-batches."""
    import datetime as dt

    from pyspark.sql import Row

    from trafsys_data_transfer_spark.plans import growth as bg
    from trafsys_data_transfer_spark.streaming import queries as sq

    rows = []
    eid = 0
    for day in (1, 2, 4):
        for uid in (1, 2):
            if uid == 2 and day == 4:
                continue  # user 2 churns after day 2
            eid += 1
            rows.append(Row(event_id=eid, user_id=uid, event_type="view",
                            ts=dt.datetime(2024, 1, day, 12), value=0.0,
                            props="{}"))
    df = spark.createDataFrame(rows)
    orig_b, orig_q = bg.load_table, sq.load_table
    try:
        bg.load_table = lambda _s, _d, name: df
        sq.load_table = lambda _s, _d, name: df
        batch = bg.events_growth_accounting(spark, "unused").collect()
        stream = sq.streaming_growth_accounting(spark, "unused").collect()
    finally:
        bg.load_table = orig_b
        sq.load_table = orig_q
    assert sorted(map(tuple, stream)) == sorted(map(tuple, batch))
    by_day = {r["day"].day: r for r in stream}
    assert by_day[1]["new_users"] == 2
    assert by_day[2]["retained"] == 2
    assert by_day[4]["resurrected"] == 1
    assert by_day[4]["churned_from_prev"] == 2  # day-2 actives not on day 3


def _cap_batch(ids_minutes):
    import pandas as pd

    return pd.DataFrame(
        {
            "ts": [pd.Timestamp(2024, 1, 1, 0, m) for _, m in ids_minutes],
            "event_id": [i for i, _ in ids_minutes],
        }
    )


def _min_ms(m):
    """Epoch-ms of 2024-01-01 00:<m>:00 UTC (the toy batches' clock)."""
    import pandas as pd

    return int(pd.Timestamp(2024, 1, 1, 0, m).value // 1_000_000)


def test_cap_state_fn_admits_earliest_across_batches():
    """Quota spanning micro-batches: rows buffer until the watermark
    passes them, then admit in event-time order; 3 admitted in batch 1
    leave room for only 2 of batch 2's earliest; batch 3 fully drops."""
    from trafsys_data_transfer_spark.streaming.cap import _cap_fn

    st = _FakeState()
    fn = _cap_fn(5)
    out1 = list(
        fn(("view", 7), iter([_cap_batch([(3, 3), (1, 1), (2, 2)])]), st)
    )
    assert out1 == []  # nothing sealed yet: wm=0
    st.wm_ms = _min_ms(4)
    out2 = list(
        fn(("view", 7), iter([_cap_batch([(6, 6), (4, 4), (5, 5)])]), st)
    )
    assert out2[0]["event_id"].tolist() == [1, 2, 3]  # batch-1 rows sealed
    st.wm_ms = _min_ms(10)
    out3 = list(fn(("view", 7), iter([_cap_batch([(9, 9)])]), st))
    assert out3[0]["event_id"].tolist() == [4, 5]  # only 2 slots left
    assert st.get[0] == 5
    st.wm_ms = _min_ms(30)
    out4 = list(fn(("view", 7), iter([]), st))  # timeout-style flush call
    assert out4 == []  # id 9 sealed but quota full: dropped permanently
    assert st.get == (5, [], [])


def test_cap_state_fn_out_of_order_admission_is_event_time_ordered():
    """VERDICT r06 task 1: a late-arriving EARLIER event must win a slot
    over an already-arrived later event while both are unsealed — the
    counter-only design admitted by arrival order and diverged."""
    from trafsys_data_transfer_spark.streaming.cap import _cap_fn

    st = _FakeState()
    fn = _cap_fn(2)
    # arrival order: minutes 5,6,7 first ...
    out1 = list(
        fn(("view", 7), iter([_cap_batch([(5, 5), (6, 6), (7, 7)])]), st)
    )
    assert out1 == []
    # ... then the out-of-order earlier minutes 1,2 (wm still below 1)
    out2 = list(fn(("view", 7), iter([_cap_batch([(1, 1), (2, 2)])]), st))
    assert out2 == []
    # watermark passes everything: admission is event-time earliest-2
    st.wm_ms = _min_ms(30)
    out3 = list(fn(("view", 7), iter([]), st))
    assert out3[0]["event_id"].tolist() == [1, 2]
    assert st.get == (2, [], [])
    # sentinel rows (event_id < 0) are never buffered or admitted
    st2 = _FakeState()
    out4 = list(fn(("view", 8), iter([_cap_batch([(-2, 0), (4, 4)])]), st2))
    assert out4 == []
    st2.wm_ms = _min_ms(30)
    out5 = list(fn(("view", 8), iter([]), st2))
    assert out5[0]["event_id"].tolist() == [4]


def test_mv_commit_is_single_artifact_and_crash_safe(spark, tmp_path):
    """ADVICE r07 (medium): MV content and its cursor must promote as ONE
    artifact.  An interrupted refresh (parquet written, marker missing)
    is invisible to readers; the replay overwrites it; at every point in
    the lifecycle a complete MV is readable at the committed version."""
    from trafsys_data_transfer_spark.streaming.queries import (
        _mv_version_path,
        mv_commit,
        mv_committed_version,
    )

    mv_dir = str(tmp_path / "mv")
    os.makedirs(mv_dir)
    assert mv_committed_version(mv_dir) == 0
    df1 = spark.createDataFrame([(1, 10)], "k int, v int")
    mv_commit(df1, mv_dir, 1)
    assert mv_committed_version(mv_dir) == 1

    # simulated crash: v2 parquet lands WITHOUT its commit marker
    df2 = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    df2.write.mode("overwrite").parquet(_mv_version_path(mv_dir, 2))
    # readers and the replay's cursor check still see v1, fully readable
    assert mv_committed_version(mv_dir) == 1
    assert spark.read.parquet(_mv_version_path(mv_dir, 1)).count() == 1

    # at-least-once replay re-runs the refresh: overwrite + marker
    mv_commit(df2, mv_dir, 2)
    assert mv_committed_version(mv_dir) == 2
    assert spark.read.parquet(_mv_version_path(mv_dir, 2)).count() == 2
    # superseded v1 GC'd; only the committed artifact remains
    assert not os.path.exists(_mv_version_path(mv_dir, 1))


def test_cap_state_fn_orders_by_sub_millisecond_timestamps():
    """ADVICE r07: the reorder buffer must carry MICROSECOND precision —
    two rows in the same millisecond whose (ts, event_id) order differs
    from their event_id order are admitted by true event time, exactly
    the batch twin's (ts, event_id) sort, not by the ms-truncated
    tiebreak the old buffer fell back to."""
    import pandas as pd

    from trafsys_data_transfer_spark.streaming.cap import _cap_fn

    base = pd.Timestamp(2024, 1, 1, 0, 1)
    batch = pd.DataFrame(
        {
            # id 9 is EARLIER by 500µs inside the same millisecond
            "ts": [base + pd.Timedelta(microseconds=750),
                   base + pd.Timedelta(microseconds=250)],
            "event_id": [3, 9],
        }
    )
    st = _FakeState()
    fn = _cap_fn(1)
    assert list(fn(("view", 7), iter([batch]), st)) == []
    st.wm_ms = _min_ms(30)
    out = list(fn(("view", 7), iter([]), st))
    assert out[0]["event_id"].tolist() == [9]  # earliest in µs wins the slot
    assert st.get[0] == 1


def test_cap_stream_out_of_order_slices_match_batch_oracle(spark, tmp_path):
    """End-to-end disorder: day-slices land LATEST FIRST, yet the
    drained admitted set equals the batch earliest-N selection."""
    import shutil

    from pyspark.sql import functions as F

    from trafsys_data_transfer_spark.streaming.cap import cap_stream

    events = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "user_id", "ts", "event_id")
        .withColumn("day", F.dayofmonth("ts"))
    )
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    slices = str(tmp_path / "slices")
    (
        events.withColumn("slice", (F.col("day") - 1) % 3)
        .drop("day")
        .repartition("slice")
        .write.partitionBy("slice")
        .parquet(slices)
    )
    # land slices in REVERSE order: 2, 1, 0 (mtime drives batch order)
    for pos, i in enumerate([2, 1, 0]):
        sdir = os.path.join(slices, f"slice={i}")
        base = 1_700_000_000 + pos * 10
        for j, f in enumerate(sorted(os.listdir(sdir))):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                dst = os.path.join(staging, f"s-{pos:03d}-{j:03d}.parquet")
                shutil.copyfile(os.path.join(sdir, f), dst)
                os.utime(dst, (base, base))
    # drain sentinels: watermark push, then per-key final-seal invocation
    sent_a = spark.createDataFrame(
        [("__wm__", -1)], "event_type string, user_id long"
    ).select(
        "event_type",
        "user_id",
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    sent_b = (
        events.select("event_type", "user_id")
        .distinct()
        .withColumn("ts", F.lit("2030-01-02 00:00:00").cast("timestamp"))
        .withColumn("event_id", F.lit(-2).cast("long"))
    )
    for name, df, base in (
        ("a", sent_a, 1_700_000_100),
        ("b", sent_b, 1_700_000_110),
    ):
        sub = str(tmp_path / f"sent_{name}")
        df.coalesce(1).write.parquet(sub)
        for j, f in enumerate(sorted(os.listdir(sub))):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                dst = os.path.join(staging, f"zz-{name}-{j:03d}.parquet")
                shutil.copyfile(os.path.join(sub, f), dst)
                os.utime(dst, (base, base))
    stream = (
        spark.readStream.schema(
            "event_type string, user_id long, ts timestamp, event_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    got = {
        (r.event_type, r.user_id, r.event_id)
        for r in drain(cap_stream(stream, cap=5, lateness="90 days")).collect()
    }
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    want = {
        (r.event_type, r.user_id, r.event_id)
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert got == want


def test_state_partition_undersizing_warns_before_freeze(spark):
    """VERDICT r06 task 4: starting a stateful stream with a state-key
    load far above the configured partition count must warn loudly
    (the count freezes into the checkpoint at first start)."""
    import warnings

    from trafsys_data_transfer_spark.streaming.incremental import (
        STATE_KEYS_PER_PARTITION_TARGET,
        _stream_partitions,
        warn_if_state_partitions_undersized,
    )

    # within budget: silent
    assert not warn_if_state_partitions_undersized(
        est_keys=8 * STATE_KEYS_PER_PARTITION_TARGET, n_partitions=8
    )
    # overloaded: warns, names the env lever and a power-of-two rec
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert warn_if_state_partitions_undersized(
            est_keys=75_000, n_partitions=8
        )
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert "SPARK_GRAFT_STREAM_PARTITIONS=32" in msg
    assert "FREEZES into the checkpoint" in msg
    # the context manager path fires it too, before any conf change
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with _stream_partitions(spark, n=8, est_keys=200_000):
            pass
    assert any("undersized" in str(w.message) for w in caught)


def test_streaming_ohlc_cross_batch_open_close(spark):
    """The open (earliest) and close (latest) of one bar land in DIFFERENT
    micro-batches; the min_by/max_by streaming state must merge them in
    (ts, event_id) order, including the equal-timestamp tie broken by id."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        # (event_id, offset_s, value) — open at :05 id=2, close at :50 id=9;
        # ids 2/9 are even/odd so they arrive in different parity drops.
        (2, 5 * 60, 4.00),
        (5, 20 * 60, 9.00),
        (4, 20 * 60, 1.00),
        (9, 50 * 60, 7.00),
        # tie at :50 — id 8 < 9 so id 9 stays the close
        (8, 50 * 60, 2.00),
    ]
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s), "tick", v) for i, s, v in rows],
        "event_id long, ts timestamp, event_type string, value double",
    )
    staging = tempfile.mkdtemp(prefix="t_stream_ohlc_")
    for parity in (0, 1):
        df.filter(F.col("event_id") % 2 == parity).coalesce(1).write.mode(
            "append"
        ).parquet(staging)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    bars = (
        stream.withWatermark("ts", "10 days")
        .select(
            "event_type",
            "ts",
            F.struct("ts", "event_id").alias("ord"),
            F.floor(F.col("value") * 100).cast("long").alias("v"),
        )
        .groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.min_by("v", "ord").alias("open_cents"),
            F.max("v").alias("high_cents"),
            F.min("v").alias("low_cents"),
            F.max_by("v", "ord").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
        )
    )
    got = drain(bars, output_mode="complete").collect()
    assert len(got) == 1
    bar = got[0]
    assert (bar.open_cents, bar.high_cents, bar.low_cents, bar.close_cents, bar.volume) == (
        400, 900, 100, 700, 5
    )


def test_write_sentinel_file_types_match_stream_schema(spark, tmp_path):
    """The pyarrow sentinel writer (r8 drain-harness fast path) must
    produce files Spark reads back under the streams' explicit schemas:
    timestamp[us] <-> TIMESTAMP, int64 <-> LONG, by-name column matching
    regardless of written order, and missing columns as nulls."""
    import pandas as pd
    import pyarrow as pa

    from trafsys_data_transfer_spark.streaming.queries import (
        _write_sentinel_file,
    )

    dst = str(tmp_path / "sent.parquet")
    _write_sentinel_file(
        dst,
        pd.DataFrame(
            {
                "event_id": [-1],
                "ts": [pd.Timestamp("2030-01-01 00:00:00.000123")],
                "user_id": [-1],
                "event_type": ["view"],
            }
        ),
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
            ]
        ),
        mtime=1_700_000_000,
    )
    assert os.path.getmtime(dst) == 1_700_000_000
    # reader schema in a DIFFERENT column order + an extra column
    df = spark.read.schema(
        "event_type string, user_id long, ts timestamp, event_id long, "
        "value double"
    ).parquet(dst)
    row = df.collect()[0]
    assert row.event_id == -1 and row.user_id == -1
    assert row.event_type == "view" and row.value is None
    assert row.ts.microsecond == 123  # µs precision survives the round trip


def test_holt_stream_out_of_order_within_lateness(spark, tmp_path):
    """A row arriving AFTER later-timestamped rows (but within the
    lateness window) must fold at its event-time position: the drained
    output equals the batch recurrence over the time-sorted series."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trafsys_data_transfer_spark.plans.timeseries import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from trafsys_data_transfer_spark.streaming.holt import holt_stream

    staging = str(tmp_path / "src")
    os.makedirs(staging)
    schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("event_id", pa.int64()),
            ("cents", pa.int64()),
        ]
    )

    def drop(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "ts", "event_id", "cents"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            os.path.join(staging, name),
        )
        os.utime(os.path.join(staging, name), (mtime, mtime))

    # file A: t=10:00, 10:30, 11:00; file B (arrives later): t=10:15
    drop(
        "a.parquet",
        [
            (1, "2024-01-01 10:00:00", 1, 100),
            (1, "2024-01-01 10:30:00", 3, 300),
            (1, "2024-01-01 11:00:00", 4, 400),
        ],
        1_700_000_000,
    )
    drop("b.parquet", [(1, "2024-01-01 10:15:00", 2, 200)], 1_700_000_010)
    drop("z-sent.parquet", [(-1, "2030-01-01", -1, 0)], 1_700_000_020)

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
    )
    name = "holt_ooo_test"
    q = (
        holt_stream(stream, lateness="2 hours")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.rn: (r.cents, r.level, r.trend)
        for r in spark.table(name).collect()
    }

    # batch fold over the time-sorted series
    xs = [100, 200, 300, 400]
    l, b = float(xs[0]), 0.0
    expect = {1: (xs[0], l, b)}
    for i, x in enumerate(xs[1:], start=2):
        l_new = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (l_new - l) + (1.0 - HOLT_BETA) * b
        l = l_new
        expect[i] = (x, l, b)
    assert got == expect


def test_holt_state_fn_matches_batch_fold_under_random_splits():
    """Property (hypothesis): for ANY batch split and within-lateness
    disorder, the Holt state function's emitted rows equal the batch
    recurrence over the delivered rows in (ts, event_id) order."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from trafsys_data_transfer_spark.plans.timeseries import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from trafsys_data_transfer_spark.streaming.holt import _holt_fn

    class _HoltFakeState(_FakeState):
        def remove(self):
            self._v = None

    LATENESS_MS = 3_600_000  # 1 h

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=200),  # minutes offset
                st.integers(min_value=1, max_value=500),  # cents
            ),
            min_size=1,
            max_size=25,
        ),
        n_batches=st.integers(min_value=1, max_value=4),
    )
    @settings(max_examples=40, deadline=None)
    def prop(rows, n_batches):
        events = [
            (pd.Timestamp(2024, 1, 1) + pd.Timedelta(minutes=m), eid, c)
            for eid, (m, c) in enumerate(rows, start=1)
        ]
        # arbitrary arrival order: hypothesis's list order IS the
        # arrival order; batches are contiguous arrival slices
        per_batch = max(1, len(events) // n_batches)
        batches = [
            events[i : i + per_batch]
            for i in range(0, len(events), per_batch)
        ]
        state = _HoltFakeState()
        emitted = []
        delivered = []
        max_seen_ms = 0
        for batch in batches:
            wm_ms = max(0, max_seen_ms - LATENESS_MS)
            state.wm_ms = wm_ms
            # the framework drops rows below the watermark pre-delivery
            live = [
                e for e in batch
                if e[0].value // 1_000_000 >= wm_ms
            ]
            delivered.extend(live)
            max_seen_ms = max(
                [max_seen_ms] + [e[0].value // 1_000_000 for e in batch]
            )
            pdf = pd.DataFrame(
                live, columns=["ts", "event_id", "cents"]
            ).assign(user_id=1)
            for out in _holt_fn((1,), iter([pdf]), state):
                emitted.extend(
                    zip(out["rn"], out["cents"], out["level"], out["trend"])
                )
        # final sweep: watermark beyond everything
        state.wm_ms = max_seen_ms + LATENESS_MS + 1
        for out in _holt_fn((1,), iter([pd.DataFrame(
            columns=["ts", "event_id", "cents", "user_id"])]), state):
            emitted.extend(
                zip(out["rn"], out["cents"], out["level"], out["trend"])
            )
        # batch fold over delivered rows in event-time order
        expect = []
        l = b = 0.0
        started = False
        for i, (_, _, c) in enumerate(
            sorted(delivered, key=lambda e: (e[0], e[1])), start=1
        ):
            if not started:
                l, b, started = float(c), 0.0, True
            else:
                l_new = HOLT_ALPHA * c + (1.0 - HOLT_ALPHA) * (l + b)
                b = HOLT_BETA * (l_new - l) + (1.0 - HOLT_BETA) * b
                l = l_new
            expect.append((i, c, l, b))
        assert emitted == expect

    prop()
