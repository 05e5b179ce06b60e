"""MERGE/upsert semantics — the reference's core invariant
(/root/reference/script.js:182-215): last write wins on the composite PK,
replays are idempotent, late corrections update in place."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from trafsys_data_transfer_spark.operators.merge import (
    dedupe_last_write,
    merge_dataframes,
    merge_upsert_parquet,
)
from trafsys_data_transfer_spark.schemas import TRAFFIC_PK, TRAFFIC_SCHEMA

DAY1, DAY2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)


def _df(spark, rows):
    def mk(site, loc, hour, ins, outs, internal=0):
        return {
            "SiteCode": site,
            "Location": loc,
            "IsInternal": internal,
            "PeriodEnding": dt.datetime(2024, 1, 1, hour),
            "Ins": ins,
            "Outs": outs,
        }

    return spark.createDataFrame([mk(*r) for r in rows], schema=TRAFFIC_SCHEMA)


def _state(df):
    return {
        (r.SiteCode, r.Location, r.PeriodEnding): (r.Ins, r.Outs)
        for r in df.collect()
    }


def test_insert_and_update(spark):
    target = _df(spark, [("A", "door", 1, 10, 5), ("A", "door", 2, 20, 6)])
    updates = _df(spark, [("A", "door", 2, 99, 7), ("B", "door", 1, 1, 1)])
    merged = merge_dataframes(target, updates, TRAFFIC_PK)
    st = _state(merged)
    assert len(st) == 3
    assert st[("A", "door", dt.datetime(2024, 1, 1, 2))] == (99, 7)  # updated
    assert st[("A", "door", dt.datetime(2024, 1, 1, 1))] == (10, 5)  # untouched
    assert st[("B", "door", dt.datetime(2024, 1, 1, 1))] == (1, 1)  # inserted


def test_replay_idempotent(spark):
    """merge(merge(T,B),B) == merge(T,B) — overlapping-window replay safety
    (script.js:54-55 refetches the boundary day on every run)."""
    target = _df(spark, [("A", "door", 1, 10, 5)])
    batch = _df(spark, [("A", "door", 1, 11, 6), ("A", "door", 2, 2, 2)])
    once = merge_dataframes(target, batch, TRAFFIC_PK)
    twice = merge_dataframes(once, batch, TRAFFIC_PK)
    assert _state(once) == _state(twice)


def test_empty_update_batch(spark):
    target = _df(spark, [("A", "door", 1, 10, 5)])
    empty = _df(spark, [])
    assert _state(merge_dataframes(target, empty, TRAFFIC_PK)) == _state(target)


def test_dedupe_last_write(spark):
    """In-batch PK duplicates collapse deterministically (highest Ins/Outs
    = 'last write' under the engine's explicit ordering)."""
    batch = _df(spark, [("A", "door", 1, 10, 5), ("A", "door", 1, 12, 4)])
    out = dedupe_last_write(batch, TRAFFIC_PK, order_by=["Ins", "Outs"])
    assert _state(out) == {("A", "door", dt.datetime(2024, 1, 1, 1)): (12, 4)}


def test_parquet_sink_partition_pruned_merge(spark, tmp_path):
    """Partitioned sink: late correction rewrites only the touched date
    partition; untouched partitions' files are not rewritten."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "target")
    day1 = _df(spark, [("A", "door", 1, 10, 5)]).withColumn(
        "PeriodDate", F.col("PeriodEnding").cast("date")
    )
    merge_upsert_parquet(
        spark, path, day1, TRAFFIC_PK, partition_col="PeriodDate", touched=[DAY1]
    )

    day2_rows = _df(spark, [("A", "door", 2, 7, 7)]).withColumn(
        "PeriodDate", F.to_date(F.lit("2024-01-02"))
    )
    merge_upsert_parquet(
        spark, path, day2_rows, TRAFFIC_PK, partition_col="PeriodDate", touched=[DAY2]
    )

    import os

    day1_files = sorted(os.listdir(os.path.join(path, "PeriodDate=2024-01-01")))

    correction = _df(spark, [("A", "door", 2, 777, 8)]).withColumn(
        "PeriodDate", F.to_date(F.lit("2024-01-02"))
    )
    merge_upsert_parquet(
        spark, path, correction, TRAFFIC_PK, partition_col="PeriodDate", touched=[DAY2]
    )

    # day1 partition untouched byte-for-byte (same file listing)
    assert sorted(os.listdir(os.path.join(path, "PeriodDate=2024-01-01"))) == day1_files

    final = spark.read.parquet(path)
    st = _state(final)
    assert st[("A", "door", dt.datetime(2024, 1, 1, 2))] == (777, 8)
    assert st[("A", "door", dt.datetime(2024, 1, 1, 1))] == (10, 5)


def test_unpartitioned_parquet_merge_swap(spark, tmp_path):
    path = str(tmp_path / "flat")
    t1 = _df(spark, [("A", "door", 1, 1, 1)])
    merge_upsert_parquet(spark, path, t1, TRAFFIC_PK)
    t2 = _df(spark, [("A", "door", 1, 2, 2), ("B", "door", 1, 3, 3)])
    merge_upsert_parquet(spark, path, t2, TRAFFIC_PK)
    st = _state(spark.read.parquet(path))
    assert st == {
        ("A", "door", dt.datetime(2024, 1, 1, 1)): (2, 2),
        ("B", "door", dt.datetime(2024, 1, 1, 1)): (3, 3),
    }


def test_merge_sink_through_explicit_file_uri(spark, tmp_path):
    """The sink must resolve paths through Hadoop's FileSystem, so an
    explicit `file:` scheme URI behaves identically to a bare path: the
    second call must take the MERGE branch, not re-CREATE."""
    path = f"file://{tmp_path}/uri_target"
    merge_upsert_parquet(spark, path, _df(spark, [("A", "door", 1, 1, 1)]), TRAFFIC_PK)
    merge_upsert_parquet(
        spark,
        path,
        _df(spark, [("A", "door", 1, 9, 9), ("B", "door", 1, 3, 3)]),
        TRAFFIC_PK,
    )
    st = _state(spark.read.parquet(path))
    # Had the probe missed the existing table, row B would be the whole table.
    assert st == {
        ("A", "door", dt.datetime(2024, 1, 1, 1)): (9, 9),
        ("B", "door", dt.datetime(2024, 1, 1, 1)): (3, 3),
    }


def test_merge_sink_never_touches_driver_local_posix(spark, tmp_path, monkeypatch):
    """Simulated non-local storage: poison every os.path/os/shutil primitive
    the old implementation used.  On an object store those calls return
    wrong answers (exists→False ⇒ CREATE branch ⇒ table silently replaced
    by one batch); the sink must route probe AND swap through Hadoop's
    FileSystem and never hit the driver-local POSIX layer."""
    import os as os_mod
    import shutil as shutil_mod

    path = str(tmp_path / "posix_free_target")
    merge_upsert_parquet(spark, path, _df(spark, [("A", "door", 1, 1, 1)]), TRAFFIC_PK)

    def boom(*a, **k):
        raise AssertionError("driver-local filesystem API used by the sink")

    monkeypatch.setattr(os_mod.path, "exists", lambda p: False)  # lies, like S3 would
    monkeypatch.setattr(os_mod, "rename", boom)
    monkeypatch.setattr(shutil_mod, "rmtree", boom)

    merge_upsert_parquet(
        spark,
        path,
        _df(spark, [("A", "door", 1, 9, 9), ("B", "door", 1, 3, 3)]),
        TRAFFIC_PK,
    )
    monkeypatch.undo()
    st = _state(spark.read.parquet(path))
    # Row A surviving with updated values proves the MERGE branch ran even
    # though os.path.exists claimed the table was absent.
    assert st == {
        ("A", "door", dt.datetime(2024, 1, 1, 1)): (9, 9),
        ("B", "door", dt.datetime(2024, 1, 1, 1)): (3, 3),
    }


def test_partition_overwrite_mode_not_leaked_to_session(spark, tmp_path):
    """partitionOverwriteMode must be a per-write option: the session conf
    must keep its default after a partitioned MERGE."""
    import pyspark.sql.functions as F

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    path = str(tmp_path / "conf_target")
    batch = _df(spark, [("A", "door", 1, 1, 1)]).withColumn(
        "PeriodDate", F.col("PeriodEnding").cast("date")
    )
    for _ in range(2):
        merge_upsert_parquet(
            spark, path, batch, TRAFFIC_PK, partition_col="PeriodDate", touched=[DAY1]
        )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before


def test_merge_cdf_change_taxonomy(spark):
    """insert / update pre+post / delete emitted exactly; no-op updates and
    tombstones on absent keys emit nothing."""
    from trafsys_data_transfer_spark.operators.merge import merge_cdf

    t = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    u = spark.createDataFrame(
        [
            (1, "a", False),   # no-op: identical values
            (2, "B", False),   # real update
            (3, None, True),   # delete
            (4, "d", False),   # insert
            (9, None, True),   # tombstone on absent key
        ],
        "k long, v string, is_delete boolean",
    )
    got = sorted(
        (r.k, r.v, r._change_type)
        for r in merge_cdf(t, u, ["k"], "is_delete").collect()
    )
    assert got == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (3, "c", "delete"),
        (4, "d", "insert"),
    ]


def test_merge_cdf_replaying_feed_reproduces_merge(spark):
    """Applying the CDF to the old table must reproduce merge_with_tombstones'
    result — the consumer-side guarantee the feed exists for."""
    from trafsys_data_transfer_spark.operators.merge import (
        merge_cdf,
        merge_with_tombstones,
    )

    t = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    )
    u = spark.createDataFrame(
        [(i, f"w{i}", i % 4 == 0) for i in range(10, 25)],
        "k long, v string, is_delete boolean",
    )
    feed = merge_cdf(t, u, ["k"], "is_delete")
    # replay: drop deleted+pre-image keys, add post-images+inserts
    gone = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k")
    add = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "v")
    replayed = (
        t.join(gone, "k", "left_anti").unionByName(add)
    )
    want = merge_with_tombstones(t, u, ["k"])
    assert {(r.k, r.v) for r in replayed.collect()} == {
        (r.k, r.v) for r in want.collect()
    }


def test_partitioned_merge_requires_touched_partitions(spark, tmp_path):
    """The partitioned sink does not probe the batch for its partitions;
    a caller that names none is refused before anything is read."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "target")
    batch = _df(spark, [("A", "door", 1, 1, 1)]).withColumn(
        "PeriodDate", F.col("PeriodEnding").cast("date")
    )
    with pytest.raises(ValueError, match="touched"):
        merge_upsert_parquet(spark, path, batch, TRAFFIC_PK, partition_col="PeriodDate")


def test_rewritten_partitions_keep_the_target_column_order(spark, tmp_path):
    """Files of a partition the MERGE rewrites hold the same columns in
    the same positions as files of a partition it creates (the key-first
    order of the anti-join must not reach the files)."""
    import pyarrow.parquet as pq

    path = tmp_path / "target"
    for day, hour, ins in [(DAY1, 1, 10), (DAY1, 1, 11), (DAY2, 2, 7)]:
        batch = _df(spark, [("A", "door", hour, ins, 5)]).withColumn(
            "PeriodDate", F.lit(day)
        )
        merge_upsert_parquet(
            spark, str(path), batch, TRAFFIC_PK, partition_col="PeriodDate", touched=[day]
        )
    want = [f.name for f in TRAFFIC_SCHEMA.fields]
    files = sorted(path.glob("PeriodDate=*/*.parquet"))
    assert {f.parent.name for f in files} == {"PeriodDate=2024-01-01", "PeriodDate=2024-01-02"}
    for f in files:
        assert pq.read_schema(f).names == want, f.parent.name
    rewritten = pq.read_table(path / "PeriodDate=2024-01-01").to_pylist()
    assert [(r["SiteCode"], r["Ins"]) for r in rewritten] == [("A", 11)]


def test_merge_with_tombstones_keeps_the_target_column_order(spark):
    from trafsys_data_transfer_spark.operators.merge import merge_with_tombstones

    target = spark.createDataFrame([(1, "x", 2)], "v long, tag string, k long")
    updates = spark.createDataFrame(
        [(3, "y", 2, False), (4, "z", 5, True)], "v long, tag string, k long, is_delete boolean"
    )
    merged = merge_with_tombstones(target, updates, ["k"])
    assert merged.columns == target.columns
    merged = merge_dataframes(target, updates.drop("is_delete"), ["k"])
    assert merged.columns == target.columns
