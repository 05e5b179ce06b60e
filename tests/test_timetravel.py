"""Versioned-table time travel: snapshot isolation, append/replace
commits, file immutability, error paths."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trafsys_data_transfer_spark.operators.timetravel import (
    table_versions,
    versioned_commit,
    versioned_read,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, day string, v long")


def test_append_and_read_as_of(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    v1 = versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    v2 = versioned_commit(spark, _df(spark, [("b", "d2", 2)]), table)
    assert (v1, v2) == (1, 2)
    assert table_versions(spark, table) == [1, 2]
    assert {tuple(r) for r in versioned_read(spark, table, 1).collect()} == {
        ("a", "d1", 1)
    }
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("a", "d1", 1),
        ("b", "d2", 2),
    }


def test_replace_keeps_history_and_never_rewrites_files(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))

    def routed(df):
        return df.withColumn("_r", F.col("day"))

    versioned_commit(
        spark,
        routed(_df(spark, [("a", "d1", 1), ("b", "d2", 2)])),
        table,
        partition_by="_r",
    )
    data_dir = os.path.join(table, "data")
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }
    # restate d2 only; d1's file carries over untouched
    versioned_commit(
        spark,
        routed(_df(spark, [("b", "d2", 20)])),
        table,
        replace=True,
        carry_unreplaced=F.col("day") == "d1",
        partition_by="_r",
    )
    after = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }
    # every v1 file still exists with its original mtime (immutable)
    for f, mt in before.items():
        assert after[f] == mt
    assert {tuple(r) for r in versioned_read(spark, table, 1).select("k", "day", "v").collect()} == {
        ("a", "d1", 1),
        ("b", "d2", 2),
    }
    assert {tuple(r) for r in versioned_read(spark, table, 2).select("k", "day", "v").collect()} == {
        ("a", "d1", 1),
        ("b", "d2", 20),
    }


def test_replace_granularity_requires_partition_alignment(spark, tmp_path):
    """Without partition routing, a file mixing carried and replaced rows
    is dropped whole — the carried rows vanish.  The test pins the
    failure mode the partition_by contract exists to prevent."""
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(
        spark, _df(spark, [("a", "d1", 1), ("b", "d2", 2)]).coalesce(1), table
    )
    versioned_commit(
        spark,
        _df(spark, [("b", "d2", 20)]),
        table,
        replace=True,
        carry_unreplaced=F.col("day") == "d1",
    )
    got = {tuple(r) for r in versioned_read(spark, table, 2).collect()}
    assert got == {("b", "d2", 20)}  # d1 row gone: misaligned files drop whole


def test_commit_cleans_staging_dirs(spark, tmp_path):
    """ADVICE r05 #4: the staging flatten must remove its _stage_<id>
    directory (and its _SUCCESS marker) after the moves — stage skeletons
    must not accumulate under data/ across commits."""
    table = str(tmp_path / "t")
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir)
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    versioned_commit(spark, _df(spark, [("b", "d2", 2)]), table)
    leftovers = [n for n in os.listdir(data_dir) if n.startswith("_stage_")]
    assert leftovers == []
    # every remaining entry is a live data file, readable via the manifest
    assert all(n.endswith(".parquet") for n in os.listdir(data_dir))


def test_concurrent_committers_linearize_via_cas_rebase(spark, tmp_path):
    """VERDICT r05 task 4: two interleaved committers — B commits while A
    sits between manifest computation and its CAS claim.  A must LOSE the
    claim on that version number, rebase onto B's manifest, and land as
    the next version; both histories linearizable (each version extends
    the previous one's live set)."""
    import json

    from trafsys_data_transfer_spark.operators.timetravel import (
        _manifest_path,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _df(spark, [("base", "d0", 0)]), table)

    b_done = {"fired": False}

    def interleave_b(_version):
        # Runs after A computed its v2 manifest, before A's claim: B's
        # whole commit executes here and wins v2.
        if not b_done["fired"]:
            b_done["fired"] = True
            got = versioned_commit(spark, _df(spark, [("b", "d2", 2)]), table)
            assert got == 2

    v_a = versioned_commit(
        spark,
        _df(spark, [("a", "d1", 1)]),
        table,
        _pre_claim_hook=interleave_b,
    )
    assert b_done["fired"]
    assert v_a == 3, "loser must rebase past the winner's version"
    assert table_versions(spark, table) == [1, 2, 3]
    # linearizable: each manifest extends the one before it
    files = {
        v: set(json.load(open(_manifest_path(table, v)))["files"])
        for v in (1, 2, 3)
    }
    assert files[1] < files[2] < files[3]
    # final state holds all three writers' rows
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("base", "d0", 0),
        ("b", "d2", 2),
        ("a", "d1", 1),
    }
    # and the intermediate version is exactly base + B
    assert {tuple(r) for r in versioned_read(spark, table, 2).collect()} == {
        ("base", "d0", 0),
        ("b", "d2", 2),
    }


def test_version_errors(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    with pytest.raises(FileNotFoundError):
        versioned_read(spark, table)
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    with pytest.raises(ValueError):
        versioned_read(spark, table, 7)


def test_rollback_restores_state_and_keeps_history(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_rollback,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    versioned_commit(spark, _df(spark, [("a", "d1", 999)]), table, replace=True)
    v = versioned_rollback(spark, table, 1)
    assert v == 3
    assert table_versions(spark, table) == [1, 2, 3]
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("a", "d1", 1)
    }
    # the bad version stays auditable
    assert {tuple(r) for r in versioned_read(spark, table, 2).collect()} == {
        ("a", "d1", 999)
    }


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_vacuum,
    )

    table = str(tmp_path / "t")
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir)
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]).coalesce(1), table)
    versioned_commit(
        spark, _df(spark, [("a", "d1", 2)]).coalesce(1), table, replace=True
    )
    versioned_commit(
        spark, _df(spark, [("a", "d1", 3)]).coalesce(1), table, replace=True
    )
    n_files_before = len(
        [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    )
    keep, deleted = versioned_vacuum(spark, table, retain_last=2)
    assert keep == [2, 3]
    assert deleted >= 1  # v1's stranded file collected
    assert table_versions(spark, table) == [2, 3]
    # retained versions still read exactly
    assert {tuple(r) for r in versioned_read(spark, table, 2).collect()} == {
        ("a", "d1", 2)
    }
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("a", "d1", 3)
    }
    n_files_after = len(
        [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    )
    assert n_files_after == n_files_before - deleted
    # idempotent: a second vacuum collects nothing further
    assert versioned_vacuum(spark, table, retain_last=2)[1] == 0


def test_vacuum_rejects_retain_last_zero(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_vacuum,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    with pytest.raises(ValueError, match="retain_last"):
        versioned_vacuum(spark, table, retain_last=0)
    # table untouched by the rejected call
    assert table_versions(spark, table) == [1]
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("a", "d1", 1)
    }


def test_vacuum_aborts_on_concurrent_commit(spark, tmp_path, monkeypatch):
    """TOCTOU tripwire: a commit landing while vacuum computes its live
    set must abort the vacuum, not have its files swept."""
    import trafsys_data_transfer_spark.operators.timetravel as tt

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    versioned_commit(spark, _df(spark, [("a", "d2", 2)]), table)
    versioned_commit(spark, _df(spark, [("a", "d3", 3)]), table)

    real_versions = tt.table_versions
    calls = {"n": 0}

    def racing_versions(sp, td):
        calls["n"] += 1
        out = real_versions(sp, td)
        if calls["n"] == 1:
            # interleave: a writer commits between the live-set read
            # and the re-check
            versioned_commit(sp, _df(sp, [("b", "d4", 4)]), td)
        return out

    monkeypatch.setattr(tt, "table_versions", racing_versions)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        tt.versioned_vacuum(spark, table, retain_last=2)
    monkeypatch.undo()
    # nothing was deleted: every version still reads
    for v in table_versions(spark, table):
        versioned_read(spark, table, v).count()


def test_versioned_commit_txn_idempotent(spark, tmp_path):
    """Delta-style txnAppId/txnVersion: replaying a batch (same app,
    same txn_version) is a no-op — the exactly-once half of
    streaming_versioned_ingest's foreachBatch contract."""
    table = str(tmp_path / "t")
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir)
    v1 = versioned_commit(
        spark, _df(spark, [("a", "d1", 1)]), table, txn=("ingest", 0)
    )
    v2 = versioned_commit(
        spark, _df(spark, [("b", "d1", 2)]), table, txn=("ingest", 1)
    )
    assert (v1, v2) == (1, 2)
    n_files = len([f for f in os.listdir(data_dir) if f.endswith(".parquet")])
    # replay batch 1 (crash after commit, before checkpoint advance)
    v_replay = versioned_commit(
        spark, _df(spark, [("b", "d1", 2)]), table, txn=("ingest", 1)
    )
    assert v_replay == 2
    assert table_versions(spark, table) == [1, 2]
    # no duplicate rows, no stranded data files
    assert versioned_read(spark, table).count() == 2
    assert (
        len([f for f in os.listdir(data_dir) if f.endswith(".parquet")])
        == n_files
    )
    # a DIFFERENT app id is not blocked
    v3 = versioned_commit(
        spark, _df(spark, [("c", "d1", 3)]), table, txn=("other", 0)
    )
    assert v3 == 3
    # rollback carries the txn watermark forward: replays stay no-ops
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_rollback,
    )

    v4 = versioned_rollback(spark, table, to_version=2)
    assert v4 == 4
    v_replay2 = versioned_commit(
        spark, _df(spark, [("b", "d1", 2)]), table, txn=("ingest", 1)
    )
    assert v_replay2 == 4
    assert versioned_read(spark, table).count() == 2


def test_versioned_compact_preserves_content_and_history(spark, tmp_path):
    """VERDICT r06 task 3: compaction-as-commit — hash-equal read before
    and after, prior manifests byte-stable (mtime), file count reduced,
    vacuum then collects the superseded small files."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_compact,
        versioned_vacuum,
    )

    table = str(tmp_path / "t")
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir)
    df1 = spark.range(0, 100).selectExpr(
        "CAST(id AS STRING) k", "'d1' day", "id v"
    )
    df2 = spark.range(100, 200).selectExpr(
        "CAST(id AS STRING) k", "'d2' day", "id v"
    )
    versioned_commit(spark, df1.repartition(6), table)
    versioned_commit(spark, df2.repartition(6), table)
    before_rows = {tuple(r) for r in versioned_read(spark, table).collect()}
    manifest_stats = {
        v: os.stat(
            os.path.join(table, "_manifests", f"v{v}.json")
        ).st_mtime_ns
        for v in (1, 2)
    }
    v3, n_before, n_after = versioned_compact(
        spark, table, target_file_bytes=1 << 30
    )
    assert (v3, n_before, n_after) == (3, 12, 1)
    assert {
        tuple(r) for r in versioned_read(spark, table).collect()
    } == before_rows
    # every prior version byte-stable and readable
    for v, mtime in manifest_stats.items():
        assert (
            os.stat(
                os.path.join(table, "_manifests", f"v{v}.json")
            ).st_mtime_ns
            == mtime
        )
        versioned_read(spark, table, v).count()
    # vacuum retires the 12 superseded small files
    keep, deleted = versioned_vacuum(spark, table, retain_last=1)
    assert keep == [3] and deleted == 12
    assert {
        tuple(r) for r in versioned_read(spark, table).collect()
    } == before_rows


def test_versioned_compact_rebases_over_concurrent_append(spark, tmp_path):
    """A writer appending BETWEEN the compaction's base scan and its
    manifest claim loses nothing: the compaction rebases and carries the
    appended files."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_compact,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(
        spark, _df(spark, [("a", "d1", 1), ("b", "d1", 2)]).repartition(4),
        table,
    )
    hooked = {"done": False}

    def interleave(_version):
        if not hooked["done"]:
            hooked["done"] = True
            versioned_commit(spark, _df(spark, [("c", "d2", 3)]), table)

    v, n_before, n_after = versioned_compact(
        spark, table, target_file_bytes=1 << 30, _pre_claim_hook=interleave
    )
    assert v == 3  # claimed AFTER the interleaved append took v2
    got = {tuple(r) for r in versioned_read(spark, table).collect()}
    assert got == {("a", "d1", 1), ("b", "d1", 2), ("c", "d2", 3)}


def test_versioned_compact_aborts_if_base_files_replaced(spark, tmp_path):
    """A concurrent REPLACE invalidates the rewrite: compaction must
    abort, leaving the replace's state intact."""
    import json

    import pytest as _pytest

    from trafsys_data_transfer_spark.operators.timetravel import (
        _manifest_path,
        versioned_compact,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    # Two appends give the base version two data files, so compaction has
    # something to rewrite and reaches its claim.
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    versioned_commit(spark, _df(spark, [("b", "d1", 2)]), table)
    base_v = table_versions(spark, table)[-1]
    with open(_manifest_path(table, base_v)) as fh:
        assert len(json.load(fh)["files"]) >= 2

    def replace_under_us(_version):
        versioned_commit(
            spark, _df(spark, [("a", "d1", 999)]), table, replace=True
        )

    with _pytest.raises(RuntimeError, match="concurrent commit replaced"):
        versioned_compact(
            spark,
            table,
            target_file_bytes=1 << 30,
            _pre_claim_hook=replace_under_us,
        )
    assert {tuple(r) for r in versioned_read(spark, table).collect()} == {
        ("a", "d1", 999)
    }


def test_versioned_delta_read_append_only_contract(spark, tmp_path):
    """Delta read returns exactly the rows added between two versions;
    a replace in the range raises (file-level delta is not CDC)."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_delta_read,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _df(spark, [("a", "d1", 1)]), table)
    versioned_commit(spark, _df(spark, [("b", "d1", 2), ("c", "d2", 3)]), table)
    got = {
        tuple(r) for r in versioned_delta_read(spark, table, 1, 2).collect()
    }
    assert got == {("b", "d1", 2), ("c", "d2", 3)}
    # empty range
    assert versioned_delta_read(spark, table, 2, 2).count() == 0
    # replace breaks the append-only contract
    versioned_commit(spark, _df(spark, [("z", "d9", 9)]), table, replace=True)
    with pytest.raises(ValueError, match="append-only"):
        versioned_delta_read(spark, table, 2, 3)


# ---------------------------------------------------------------------------
# partition-spec evolution
# ---------------------------------------------------------------------------


def _mkdf(spark, lo, hi, route=True):
    df = spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    return df.withColumn("g_route", F.col("g")) if route else df


def test_partition_metadata_recorded_and_pruned(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.timetravel import (
        prune_partition_files,
        versioned_commit,
        versioned_read,
        versioned_read_pruned,
    )
    import json

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _mkdf(spark, 0, 30, route=False), table)  # spec 0
    versioned_commit(
        spark, _mkdf(spark, 30, 60), table, partition_by="g_route"
    )  # spec 1
    with open(os.path.join(table, "_manifests", "v2.json")) as fh:
        m = json.load(fh)
    spec1 = m.get("partitions", {})
    assert spec1 and all(set(p) == {"g_route"} for p in spec1.values())
    spec0 = [f for f in m["files"] if f not in spec1]
    assert spec0  # v1's files carry no metadata

    df, n_read, n_skipped = versioned_read_pruned(spark, table, {"g_route": "1"})
    # every spec-0 file read; only mismatched spec-1 files skipped
    keep, skipped = prune_partition_files(m["files"], spec1, {"g_route": "1"})
    assert n_skipped == len(skipped) > 0
    assert all(f in spec1 for f in skipped)
    assert set(spec0) <= set(keep)
    # row-level filter on top equals the unpruned filtered read
    got = sorted(r.k for r in df.filter(F.col("g") == "1").collect())
    want = sorted(
        r.k
        for r in versioned_read(spark, table).filter(F.col("g") == "1").collect()
    )
    assert got == want


def test_partition_metadata_survives_rebase_rollback_compact(spark, tmp_path):
    """CAS-rebased appends, rollback and compaction all carry (or safely
    degrade) the per-file partition map."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_commit,
        versioned_compact,
        versioned_read,
        versioned_rollback,
    )
    import json

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(
        spark, _mkdf(spark, 0, 30), table, partition_by="g_route"
    )
    versioned_commit(spark, _mkdf(spark, 30, 60, route=False), table)

    def parts(v):
        with open(os.path.join(table, "_manifests", f"v{v}.json")) as fh:
            return json.load(fh).get("partitions", {})

    assert parts(2) == parts(1)  # append carries v1's entries untouched

    v3 = versioned_rollback(spark, table, 1)
    assert parts(v3) == parts(1)  # restore re-lists the target's map

    v4, _before, _after = versioned_compact(spark, table, target_file_bytes=1)
    # compacted rewrites degrade to must-read (no stale metadata)
    live = set()
    with open(os.path.join(table, "_manifests", f"v{v4}.json")) as fh:
        live = set(json.load(fh)["files"])
    assert set(parts(v4)) <= live
    got = sorted(r.k for r in versioned_read(spark, table, v4).collect())
    assert got == list(range(30))  # content identical post-compact


def test_prune_backcompat_manifest_without_partitions(spark, tmp_path):
    """Pre-evolution manifests (no partitions key) read fine: nothing
    pruned, everything scanned."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        versioned_commit,
        versioned_read_pruned,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _mkdf(spark, 0, 20, route=False), table)
    df, n_read, n_skipped = versioned_read_pruned(
        spark, table, {"g_route": "1"}
    )
    assert n_skipped == 0 and df.count() == 20


def test_table_history_accounting(spark, tmp_path):
    """Kinds, deltas and byte accounting line up with the actual commits;
    bytes are monotone under append and shrink under replace."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        table_history,
        versioned_commit,
        versioned_rollback,
    )

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "data"))
    versioned_commit(spark, _mkdf(spark, 0, 40, route=False), table)
    versioned_commit(spark, _mkdf(spark, 40, 80), table, partition_by="g_route")
    versioned_commit(spark, _mkdf(spark, 0, 10, route=False), table, replace=True)
    versioned_rollback(spark, table, 2)
    h = table_history(spark, table)
    assert [x["version"] for x in h] == [1, 2, 3, 4]
    assert [x["kind"] for x in h] == ["append", "append", "replace", "rollback"]
    assert h[1]["files_dropped"] == 0
    assert h[1]["n_files"] == h[0]["n_files"] + h[1]["files_added"]
    assert h[1]["spec_cols"] == ["g_route"]
    assert h[1]["live_bytes"] > h[0]["live_bytes"]
    assert h[2]["live_bytes"] < h[1]["live_bytes"]
    # rollback re-lists v2's files exactly
    assert h[3]["n_files"] == h[1]["n_files"]
    assert h[3]["live_bytes"] == h[1]["live_bytes"]


# ---------------------------------------------------------------------------
# cross-table transactional snapshots
# ---------------------------------------------------------------------------


def test_multi_table_txn_consistent_cut_and_crash_window(spark, tmp_path):
    """txn pinning yields the per-table versions recorded together; a
    table version committed WITHOUT a catalog claim stays invisible at
    the catalog tier (the crash window between table and catalog
    commits); later txns don't disturb earlier cuts."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        multi_table_commit,
        multi_table_read,
        versioned_commit,
    )

    root = str(tmp_path / "cat")
    a1 = spark.range(0, 10).withColumnRenamed("id", "k")
    b1 = spark.range(0, 10).withColumnRenamed("id", "k")
    t1 = multi_table_commit(spark, root, {"a": a1, "b": b1})
    # crash window: table "a" advances with NO catalog record
    versioned_commit(
        spark, spark.range(100, 120).withColumnRenamed("id", "k"),
        os.path.join(root, "a"),
    )
    cut1 = multi_table_read(spark, root, t1)
    assert cut1["a"].count() == 10  # orphan table version invisible
    assert cut1["b"].count() == 10
    t2 = multi_table_commit(
        spark, root,
        {"a": spark.range(200, 210).withColumnRenamed("id", "k"),
         "b": spark.range(200, 230).withColumnRenamed("id", "k")},
    )
    assert t2 == t1 + 1
    # txn 2 sees its own consistent vector (a includes the orphan rows —
    # the append history is linear per table — b does not exceed its cut)
    cut2 = multi_table_read(spark, root, t2)
    assert cut2["b"].count() == 40
    # and the txn-1 cut is byte-stable after txn 2
    again = multi_table_read(spark, root, t1)
    assert sorted(r.k for r in again["a"].collect()) == list(range(10))


def test_multi_table_commit_lost_cas_rebases_to_monotone_cut(
    spark, tmp_path, monkeypatch
):
    """ADVICE r07: with two genuinely concurrent writers, the loser of
    the catalog CAS must not re-claim its own (now stale) version vector
    verbatim — txn N+1 would point tables at OLDER versions than the
    winner's txn N, silently dropping the winner's rows from
    latest-reads.  The loser rebases to per-table max(own, winner's)."""
    import json as _json

    from trafsys_data_transfer_spark.operators import timetravel as tt

    root = str(tmp_path / "cat")
    a1 = spark.range(0, 10).withColumnRenamed("id", "k")
    t1 = tt.multi_table_commit(spark, root, {"a": a1})  # txn 1, a@v1

    # Simulate the interleave: the loser commits its table version, then
    # — between that commit and its catalog CAS — a winner appends a
    # NEWER table version and claims the next txn slot.  We inject the
    # winner at the loser's first os.link call, forcing the CAS loss.
    real_link = os.link
    injected = {"done": False}

    def racing_link(src, dst):
        # fire only on the CATALOG txn claim (versioned_commit's own
        # table-manifest CAS also goes through os.link — pass it through)
        if "_txns" in dst and not injected["done"]:
            injected["done"] = True
            winner_v = tt.versioned_commit(
                spark,
                spark.range(100, 130).withColumnRenamed("id", "k"),
                os.path.join(root, "a"),
            )
            with open(dst, "w") as fh:
                _json.dump(
                    {"txn": t1 + 1, "tables": {"a": winner_v}}, fh
                )
        return real_link(src, dst)

    monkeypatch.setattr(tt.os, "link", racing_link)
    t_loser = tt.multi_table_commit(
        spark, root, {"a": spark.range(200, 205).withColumnRenamed("id", "k")}
    )
    monkeypatch.setattr(tt.os, "link", real_link)
    assert t_loser == t1 + 2  # lost one CAS, claimed the next slot
    hist = tt.catalog_history(spark, root)
    versions = {h["txn"]: h["tables"]["a"] for h in hist}
    # monotone per-table cut: txn N+1 never points BELOW txn N
    assert versions[t_loser] >= versions[t1 + 1]
    # and the latest read reflects the winner's rows (nothing dropped)
    latest = tt.multi_table_read(spark, root)["a"]
    ks = {r.k for r in latest.collect()}
    assert set(range(100, 130)) <= ks


def test_rebase_claim_unit():
    """Per-table max of own vector and the latest manifest's vector;
    tables absent from the latest manifest keep their own version, and
    tables absent from THIS txn carry forward at the latest manifest's
    version (ADVICE r08: a subset commit must not drop the rest of the
    catalog from the latest cut)."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        _rebase_claim,
    )

    assert _rebase_claim({"a": 3}, []) == {"a": 3}
    hist = [{"txn": 1, "tables": {"a": 5, "b": 2}}]
    assert _rebase_claim({"a": 3, "c": 7}, hist) == {"a": 5, "b": 2, "c": 7}


def test_multi_table_subset_commit_carries_untouched_tables(spark, tmp_path):
    """ADVICE r08: a txn committing a subset of catalog tables still
    yields a latest manifest covering the FULL table set — the untouched
    table stays readable (at its predecessor version) in
    multi_table_read(latest)."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        multi_table_commit,
        multi_table_read,
    )

    root = str(tmp_path / "cat")
    rng = lambda a, b: spark.range(a, b).withColumnRenamed("id", "k")  # noqa
    multi_table_commit(spark, root, {"a": rng(0, 10), "b": rng(0, 5)})
    t2 = multi_table_commit(spark, root, {"a": rng(10, 40)})  # b untouched
    cut = multi_table_read(spark, root, t2)
    assert set(cut) == {"a", "b"}
    assert cut["a"].count() == 40  # append history is linear per table
    assert cut["b"].count() == 5  # carried forward, not dropped
    latest = multi_table_read(spark, root)
    assert set(latest) == {"a", "b"} and latest["b"].count() == 5


def test_catalog_rollback_and_vacuum(spark, tmp_path):
    """Catalog restore re-records the target vector as a new txn; vacuum
    keeps retained cuts byte-identical, collects dropped versions AND
    crash-window orphans, and refuses retain_last=0."""
    import pytest as _pytest

    from trafsys_data_transfer_spark.operators.timetravel import (
        catalog_history,
        catalog_vacuum,
        multi_table_commit,
        multi_table_read,
        multi_table_rollback,
        table_versions,
        versioned_commit,
    )

    root = str(tmp_path / "cat")
    rng = lambda a, b: spark.range(a, b).withColumnRenamed("id", "k")  # noqa
    t1 = multi_table_commit(spark, root, {"a": rng(0, 10), "b": rng(0, 5)})
    t2 = multi_table_commit(spark, root, {"a": rng(10, 30), "b": rng(5, 15)})
    # crash-window orphan: table version never referenced by any txn
    versioned_commit(spark, rng(900, 950), os.path.join(root, "a"))
    t3 = multi_table_rollback(spark, root, t1)
    assert [m["txn"] for m in catalog_history(spark, root)] == [t1, t2, t3]
    cut = multi_table_read(spark, root, t3)
    assert cut["a"].count() == 10 and cut["b"].count() == 5

    with _pytest.raises(ValueError):
        catalog_vacuum(spark, root, retain_last=0)
    kept, deleted = catalog_vacuum(spark, root, retain_last=2)
    assert kept == [t2, t3] and deleted > 0
    # retained cuts unchanged; t1's manifest gone from the catalog
    assert [m["txn"] for m in catalog_history(spark, root)] == [t2, t3]
    cut2 = multi_table_read(spark, root, t2)
    assert cut2["a"].count() == 30 and cut2["b"].count() == 15
    cut3 = multi_table_read(spark, root, t3)
    assert cut3["a"].count() == 10
    # the orphan version (never in any txn) was collected too
    a_versions = table_versions(spark, os.path.join(root, "a"))
    assert all(
        v in {m["tables"]["a"] for m in catalog_history(spark, root)}
        for v in a_versions
    )


def test_multi_table_commit_idempotent_replay(spark, tmp_path):
    """A replayed multi-table commit (same catalog txn_id) is recognized
    and returns the txn that first carried it — no duplicate data, no new
    transaction; and the ledger survives a catalog rollback."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        catalog_history,
        multi_table_commit,
        multi_table_read,
        multi_table_rollback,
    )

    root = str(tmp_path / "cat")
    rng = lambda a, b: spark.range(a, b).withColumnRenamed("id", "k")  # noqa
    t1 = multi_table_commit(
        spark, root, {"a": rng(0, 10)}, txn_id=("app", 0)
    )
    t2 = multi_table_commit(
        spark, root, {"a": rng(10, 20)}, txn_id=("app", 1)
    )
    # replay of batch 0: no new txn, no new rows
    t_replay = multi_table_commit(
        spark, root, {"a": rng(0, 10)}, txn_id=("app", 0)
    )
    assert t_replay == t1
    assert [m["txn"] for m in catalog_history(spark, root)] == [t1, t2]
    assert multi_table_read(spark, root)["a"].count() == 20
    # ledger carried through restore: replay after rollback still skips
    multi_table_rollback(spark, root, t1)
    t_replay2 = multi_table_commit(
        spark, root, {"a": rng(10, 20)}, txn_id=("app", 1)
    )
    assert t_replay2 == t2
    assert multi_table_read(spark, root)["a"].count() == 10  # still the cut


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    from trafsys_data_transfer_spark.operators.timetravel import (
        shallow_clone,
        table_versions,
        versioned_commit,
        versioned_read,
    )
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 20).withColumnRenamed("id", "k")
    versioned_commit(spark, df1, src)
    assert shallow_clone(spark, src, dst) == 1
    # zero copy
    assert not any(
        f.endswith(".parquet") for f in os.listdir(os.path.join(dst, "data"))
    )
    # clone read == source read at the fork
    assert sorted(
        r.k for r in versioned_read(spark, dst).collect()
    ) == list(range(10))
    # diverge: append to clone, then to source — neither sees the other
    versioned_commit(spark, df2, dst)
    versioned_commit(
        spark, spark.range(100, 105).withColumnRenamed("id", "k"), src
    )
    assert sorted(
        r.k for r in versioned_read(spark, dst).collect()
    ) == list(range(20))
    assert sorted(
        r.k for r in versioned_read(spark, src).collect()
    ) == list(range(10)) + list(range(100, 105))


def test_vacuum_on_clone_never_touches_source(spark, tmp_path):
    """A clone vacuum reconciles only the clone's OWN data dir: the
    source files it references by absolute path survive."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        shallow_clone,
        versioned_commit,
        versioned_read,
        versioned_vacuum,
    )
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    versioned_commit(
        spark, spark.range(0, 5).withColumnRenamed("id", "k"), src
    )
    shallow_clone(spark, src, dst)
    versioned_commit(
        spark, spark.range(5, 8).withColumnRenamed("id", "k"), dst
    )
    versioned_commit(
        spark, spark.range(8, 9).withColumnRenamed("id", "k"), dst
    )
    src_files_before = sorted(os.listdir(os.path.join(src, "data")))
    kept, deleted = versioned_vacuum(spark, dst, retain_last=1)
    assert sorted(os.listdir(os.path.join(src, "data"))) == src_files_before
    assert sorted(
        r.k for r in versioned_read(spark, dst).collect()
    ) == list(range(9))


def test_shallow_clone_refuses_nonempty_target(spark, tmp_path):
    import pytest

    from trafsys_data_transfer_spark.operators.timetravel import (
        shallow_clone,
        versioned_commit,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    versioned_commit(
        spark, spark.range(0, 3).withColumnRenamed("id", "k"), src
    )
    versioned_commit(
        spark, spark.range(0, 3).withColumnRenamed("id", "k"), dst
    )
    with pytest.raises(ValueError, match="not empty"):
        shallow_clone(spark, src, dst)


def test_deep_clone_survives_source_vacuum(spark, tmp_path):
    """deep_clone owns its bytes: vacuuming the source to nothing the
    clone referenced leaves the deep clone fully readable (the exact
    failure mode the shallow clone documents)."""
    from trafsys_data_transfer_spark.operators.timetravel import (
        deep_clone,
        shallow_clone,
        versioned_commit,
        versioned_read,
        versioned_vacuum,
    )

    src = str(tmp_path / "src")
    deep = str(tmp_path / "deep")
    versioned_commit(
        spark, spark.range(0, 6).withColumnRenamed("id", "k"), src
    )
    assert deep_clone(spark, src, deep) == 1
    # restate the source so v1's files become vacuum-collectable
    versioned_commit(
        spark,
        spark.range(100, 103).withColumnRenamed("id", "k"),
        src,
        replace=True,
    )
    versioned_vacuum(spark, src, retain_last=1)
    # the deep clone still reads its full fork-point content
    assert sorted(
        r.k for r in versioned_read(spark, deep).collect()
    ) == list(range(6))


def test_replace_commit_on_clone_drops_replaced_cloned_files(spark, tmp_path):
    """A replace-commit on a SHALLOW clone must drop absolute-ref manifest
    entries whose files contain replaced rows (ADVICE r09 #1: the drop set
    is built from input_file_name basenames, so absolute clone refs need a
    basename comparison — raw string matching silently resurrected
    replaced rows)."""
    from pyspark.sql import functions as F

    from trafsys_data_transfer_spark.operators.timetravel import (
        shallow_clone,
        versioned_commit,
        versioned_read,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    # two source commits → two file sets: k<10 and k in [10, 20)
    versioned_commit(spark, spark.range(0, 10).withColumnRenamed("id", "k"), src)
    versioned_commit(spark, spark.range(10, 20).withColumnRenamed("id", "k"), src)
    shallow_clone(spark, src, dst)
    # replace the upper half ON THE CLONE: rows k>=10 are restated
    versioned_commit(
        spark,
        spark.range(100, 103).withColumnRenamed("id", "k"),
        dst,
        replace=True,
        carry_unreplaced=F.col("k") < 10,
    )
    got = sorted(r.k for r in versioned_read(spark, dst).collect())
    assert got == list(range(10)) + [100, 101, 102], got
    # source untouched
    assert sorted(r.k for r in versioned_read(spark, src).collect()) == list(
        range(20)
    )


def test_shallow_clone_refusal_leaves_no_stray_dirs(spark, tmp_path):
    """A refused clone (non-empty target) must not create data/ or
    _manifests/ directories at the target (ADVICE r09 #5)."""
    import os

    import pytest

    from trafsys_data_transfer_spark.operators.timetravel import (
        shallow_clone,
        versioned_commit,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    versioned_commit(spark, spark.range(0, 3).withColumnRenamed("id", "k"), src)
    versioned_commit(spark, spark.range(0, 3).withColumnRenamed("id", "k"), dst)
    before = sorted(os.listdir(dst))
    with pytest.raises(ValueError, match="not empty"):
        shallow_clone(spark, src, dst)
    assert sorted(os.listdir(dst)) == before
    fresh = str(tmp_path / "never_created" / "t")
    with pytest.raises(FileNotFoundError):
        shallow_clone(spark, str(tmp_path / "no_src"), fresh)
    assert not os.path.exists(fresh)
