"""Snapshot-versioned tables (time travel) over plain parquet + manifests.

The lakehouse property the parquet sinks so far lack: after a
restatement, YESTERDAY'S table state must still be readable — auditors,
reproducible-training runs and incident forensics all read "the table as
of version N", not "whatever the directory holds now".  Delta/Iceberg
provide this with a transaction log; this operator implements the
minimal same-shaped contract on the engine's own primitives:

* Data files are immutable, uniquely named, written once under
  ``<table>/data/`` and NEVER rewritten or deleted by later commits.
* A commit is one JSON manifest ``<table>/_manifests/v{N}.json`` naming
  the complete live file set for that version — written AFTER its data
  files (readers either see the manifest and all its files, or neither).
  The manifest claim is an optimistic-concurrency CAS (atomic
  link-if-absent) with rebase-and-retry, so CONCURRENT writers are safe
  on this tier: exactly one writer wins each version number and every
  loser recomputes its live set on top of the winner's manifest — the
  Delta/Iceberg commit shape on POSIX primitives (see
  :func:`versioned_commit`).
* ``read(version=None)`` resolves latest-or-pinned manifest and reads
  exactly its files — an O(1) metadata hop, no directory listing of
  data, so stale files from abandoned writes are invisible.

Scale: a manifest is O(files) names; data-file IO is whatever the commit
writes — replaced partitions only, the dynamic-partition-overwrite
economics with history retained.  Reading any version costs the same as
reading a plain parquet table of that size.

The reference keeps no history at all (its Oracle MERGE overwrites in
place, script.js:184-214); this is the §2.10 scope extension applied to
the storage layer.

Deliberate scope bound: manifest IO and the staging flatten use local
``os`` calls (unlike the ``fsutil``-routed sinks) — this is the
LOCAL/POSIX tier of the contract (multi-writer-safe via the CAS claim;
the link-if-absent primitive is atomic on POSIX and HDFS but not on
plain S3, where the upgrade is a real Delta / Iceberg commit protocol
or an S3 conditional-PUT, not more rename choreography).  The parquet
MERGE sink in ``operators/merge.py`` remains the one single-writer
component (its rename swap replaces state in place).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import list_data_files, path_exists, process_staging_dir
from ..registry import register
from ..sources.fixtures import load_table


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_dir), f"v{version}.json")


def table_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Committed versions, ascending.  O(manifests) metadata listing."""
    if not path_exists(spark, _manifest_dir(table_dir)):
        return []
    names = [
        os.path.basename(p) for p, _ in list_data_files(spark, _manifest_dir(table_dir))
    ]
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


#: Bounded optimistic-concurrency retries: each loser of a commit race
#: rebases onto the winner's manifest and tries the next version number.
COMMIT_CAS_RETRIES = 16


def versioned_commit(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    replace: bool = False,
    carry_unreplaced=None,
    partition_by: str | None = None,
    txn: tuple[str, int] | None = None,
    _pre_claim_hook=None,
) -> int:
    """Commit ``df`` as the next version.

    ``txn=(app_id, txn_version)`` makes the commit IDEMPOTENT per
    application (the Delta ``txnAppId``/``txnVersion`` pattern): each
    manifest carries the highest txn_version applied per app_id, and a
    commit whose txn_version is <= the recorded one is a no-op returning
    the current version.  This is what upgrades an at-least-once
    ``foreachBatch`` replay (crash after commit, before the checkpoint
    records the offset) to exactly-once at the table level — the
    replayed batch_id is recognized and skipped.

    ``replace=False`` appends: the new version's live set is the previous
    version's files plus the new ones.  ``replace=True`` with
    ``carry_unreplaced`` (a predicate on the previous version's rows —
    evaluated per FILE via a read of that file) starts from only the
    previous files whose rows ALL satisfy the predicate; files with any
    replaced row are dropped from the live set (their rows must be
    re-written by ``df`` if retained — pass ``partition_by`` so files
    align with the replacement key and no file ever mixes carried and
    replaced rows).  ``partition_by`` names a WRITE-ROUTING column that
    must duplicate a data column (it is consumed by the partitioned
    write; the data column keeps the value readable per file).  Data
    files are never mutated.

    MULTI-WRITER SAFETY (optimistic concurrency, the Delta/Iceberg shape
    on POSIX primitives): data files land under a commit-unique prefix,
    so concurrent writers never collide on data.  The manifest claim is a
    compare-and-swap — ``os.link(tmp, v{N}.json)`` atomically fails if
    another writer already committed N — and a losing writer REBASES:
    re-reads the winner's manifest, recomputes its live set (append adds
    on top of the winner's files; replace re-evaluates the carry scan
    against them), and retries at N+1, bounded by COMMIT_CAS_RETRIES.
    Histories are therefore linearizable: every manifest extends the one
    it was claimed against.

    ``_pre_claim_hook`` (tests only) runs after the manifest is computed
    but before the claim, making commit races deterministic to stage.
    """
    # Stage the new data files ONCE under a unique commit prefix (they are
    # version-number independent, so CAS retries never rewrite data); a
    # partitioned staging write yields one subtree per key, flattened into
    # unique names so the manifest stays a plain file list.
    def _last_txn(prev_versions: list[int]) -> dict:
        if not prev_versions:
            return {}
        with open(_manifest_path(table_dir, prev_versions[-1])) as fh:
            return json.load(fh).get("txn", {})

    if txn is not None:
        # Cheap pre-stage idempotence check: a replayed batch skips the
        # data write entirely.  Re-checked inside the CAS loop too.
        prev0 = table_versions(spark, table_dir)
        if _last_txn(prev0).get(txn[0], -1) >= txn[1]:
            return prev0[-1]

    commit_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table_dir, "data", f"_stage_{commit_id}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(staging)
    new_files = []
    new_parts: dict[str, dict[str, str]] = {}
    moves = []  # (src, final_name) — verified complete before any manifest
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            rel = os.path.relpath(os.path.join(root, name), staging)
            token = rel.replace(os.sep, "~").replace("=", "_")
            final = f"{commit_id}-{token}"
            moves.append((os.path.join(root, name), final))
            # Per-file partition metadata (Iceberg-style spec tracking):
            # each hive path segment key=value this file was routed under.
            # Files committed under a different (or no) spec simply lack
            # the entry — pruning treats them as must-read, so SPECS CAN
            # EVOLVE between commits without rewriting old files.
            part = {
                seg.split("=", 1)[0]: seg.split("=", 1)[1]
                for seg in rel.split(os.sep)[:-1]
                if "=" in seg and not seg.split("=", 1)[1].startswith("__HIVE")
            }
            if part:
                new_parts[final] = part
    for src, final in moves:
        os.replace(src, os.path.join(table_dir, "data", final))
        new_files.append(final)
    # Every move verified in place before any manifest can reference them
    # (a crash above leaves only never-referenced files + the stage dir,
    # both invisible to readers); then drop the exhausted staging tree so
    # _stage_* skeletons and _SUCCESS markers don't accumulate under
    # data/ across commits (ADVICE r05 #4).
    missing = [
        f for _, f in moves
        if not os.path.exists(os.path.join(table_dir, "data", f))
    ]
    if missing:
        raise IOError(f"staging flatten incomplete, aborting commit: {missing}")
    shutil.rmtree(staging, ignore_errors=True)

    for _attempt in range(COMMIT_CAS_RETRIES):
        prev = table_versions(spark, table_dir)
        prev_files: list[str] = []
        prev_txn: dict = {}
        prev_parts: dict = {}
        if prev:
            with open(_manifest_path(table_dir, prev[-1])) as fh:
                prev_manifest = json.load(fh)
            prev_files = prev_manifest["files"]
            prev_txn = prev_manifest.get("txn", {})
            prev_parts = prev_manifest.get("partitions", {})
        if txn is not None and prev_txn.get(txn[0], -1) >= txn[1]:
            # A racing writer (or an earlier attempt of this replay)
            # already applied this txn — drop our staged files and
            # return the version that carries it.
            for f in new_files:
                try:
                    os.unlink(os.path.join(table_dir, "data", f))
                except FileNotFoundError:
                    pass
            return prev[-1]
        if replace and carry_unreplaced is not None and prev_files:
            # ONE scan decides every file's fate: tag rows with their
            # source file, keep files with zero rows outside the carry
            # predicate.  Re-runs on rebase — the winner's files must be
            # re-judged against the predicate too.
            bad = {
                os.path.basename(r["f"])
                for r in (
                    spark.read.parquet(
                        *[os.path.join(table_dir, "data", f) for f in prev_files]
                    )
                    .withColumn("f", F.input_file_name())
                    .filter(~carry_unreplaced)
                    .select("f")
                    .distinct()
                    .collect()
                )
            }
            # Compare by basename: a shallow clone's manifest holds
            # ABSOLUTE refs into the source table, and input_file_name
            # yields basenames — a raw-string match would silently carry
            # every cloned file containing replaced rows (ADVICE r09 #1).
            prev_files = [
                f for f in prev_files if os.path.basename(f) not in bad
            ]
        elif replace and carry_unreplaced is None:
            prev_files = []

        version = (prev[-1] + 1) if prev else 1
        os.makedirs(_manifest_dir(table_dir), exist_ok=True)
        manifest = {"version": version, "files": sorted(prev_files + new_files)}
        # Carry partition metadata for surviving prior files, add the new
        # commit's — entries for dropped (replaced) files fall away here.
        parts = {
            f: prev_parts[f] for f in prev_files if f in prev_parts
        }
        parts.update(new_parts)
        if parts:
            manifest["partitions"] = parts
        if txn is not None or prev_txn:
            new_txn = dict(prev_txn)
            if txn is not None:
                new_txn[txn[0]] = txn[1]
            manifest["txn"] = new_txn
        tmp = _manifest_path(table_dir, version) + f".tmp{commit_id}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        if _pre_claim_hook is not None:
            _pre_claim_hook(version)
        try:
            # CAS: hard-link is atomic and FAILS if v{N}.json exists —
            # exactly one writer wins each version number.
            os.link(tmp, _manifest_path(table_dir, version))
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost the race: rebase onto the winner and retry
        os.unlink(tmp)
        return version
    raise IOError(
        f"commit lost {COMMIT_CAS_RETRIES} consecutive CAS races on "
        f"{table_dir}; giving up (staged files {commit_id}-* remain "
        "unreferenced and invisible to readers)"
    )


def versioned_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """The table AS OF ``version`` (latest when None).

    ``merge_schema=True`` unions the per-file schemas (schema EVOLUTION:
    a version whose commits added columns reads as the widened schema,
    older files' new columns null) — pass it when the table's history
    spans an additive schema change; reads pinned to a pre-change
    version keep the original schema for free, because they read only
    that version's files."""
    versions = table_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    with open(_manifest_path(table_dir, version)) as fh:
        files = json.load(fh)["files"]
    if not files:
        raise ValueError(f"version {version} is empty")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(
        *[os.path.join(table_dir, "data", f) for f in files]
    )


@register(
    "timetravel_restate_read",
    # Both table states, one result: version 1 must remain byte-identical
    # to the ORIGINAL rollup after version 2 (the Jan-15+ correction)
    # was committed — the defining time-travel property.
    oracle="""
    WITH traffic AS (
        SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS SiteCode,
               event_type AS Location,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
                   AS PeriodEnding,
               CAST(FLOOR(value) AS BIGINT) AS Ins, ts
        FROM events
    ),
    rolled AS (
        SELECT SiteCode, Location,
               CAST(date_trunc('day', PeriodEnding - INTERVAL 1 SECOND)
                    + INTERVAL 1 DAY AS DATE) AS day,
               CAST(SUM(Ins) AS BIGINT) AS Ins,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:01'
                             THEN Ins + 1000 ELSE Ins END) AS BIGINT)
                   AS Ins_corrected
        FROM traffic
        GROUP BY 1, 2, 3
    )
    SELECT 1 AS version, SiteCode, Location, day, Ins FROM rolled
    UNION ALL
    SELECT 2 AS version, SiteCode, Location, day, Ins_corrected AS Ins
    FROM rolled
    ORDER BY version, SiteCode, Location, day
    """,
)
def timetravel_restate_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit the daily rollup as v1, commit a Jan-15+ correction as v2
    (replacing only the affected days' files, history retained), then
    read BOTH versions back — v1 AFTER v2 exists must still equal the
    original state.
    """
    from ..plans.traffic import normalize_traffic, rollup_traffic
    from ..plans.traffic_queries import traffic_raw_from_events

    t = normalize_traffic(
        traffic_raw_from_events(load_table(spark, sf_dir, "events"))
    )

    def daily(df: DataFrame) -> DataFrame:
        return rollup_traffic(df, grain="day").select(
            "SiteCode",
            "Location",
            F.col("PeriodEnding").cast("date").alias("day"),
            "Ins",
        )

    cutoff_day = F.lit("2024-01-15").cast("date")
    table = process_staging_dir(f"timetravel_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)

    def routed(df: DataFrame) -> DataFrame:
        # write-routing duplicate of `day`: guarantees one-day-per-file so
        # replace-granularity never strands carried rows in dropped files
        return df.withColumn("_day_route", F.col("day").cast("string"))

    versioned_commit(spark, routed(daily(t)), table, partition_by="_day_route")
    # v2: corrected days replace their files; untouched days carry over
    corrected = t.filter(
        F.col("PeriodEnding") >= F.lit("2024-01-15 00:00:01").cast("timestamp")
    ).withColumn("Ins", F.col("Ins") + 1000)
    versioned_commit(
        spark,
        routed(daily(corrected)),
        table,
        replace=True,
        carry_unreplaced=F.col("day") <= cutoff_day,
        partition_by="_day_route",
    )
    v1 = versioned_read(spark, table, 1).withColumn("version", F.lit(1))
    v2 = versioned_read(spark, table, 2).withColumn("version", F.lit(2))
    return (
        v1.unionByName(v2)
        .select("version", "SiteCode", "Location", "day", "Ins")
        .orderBy("version", "SiteCode", "Location", "day")
    )


@register(
    "timetravel_version_diff",
    # CDC between stored versions: exactly the corrected days change,
    # nothing is added or removed, everything else is untouched.
    oracle="""
    WITH traffic AS (
        SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS SiteCode,
               event_type AS Location,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
                   AS PeriodEnding,
               CAST(FLOOR(value) AS BIGINT) AS Ins, ts
        FROM events
    ),
    rolled AS (
        SELECT SiteCode, Location,
               CAST(date_trunc('day', PeriodEnding - INTERVAL 1 SECOND)
                    + INTERVAL 1 DAY AS DATE) AS day,
               CAST(SUM(Ins) AS BIGINT) AS Ins,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:01'
                             THEN Ins + 1000 ELSE Ins END) AS BIGINT)
                   AS Ins_corrected
        FROM traffic
        GROUP BY 1, 2, 3
    )
    SELECT SiteCode || '|' || Location || '|' || CAST(day AS VARCHAR) AS row_key,
           CASE WHEN Ins != Ins_corrected THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM rolled
    ORDER BY row_key
    """,
)
def timetravel_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two STORED versions of the same table: commit v1 and
    the v2 restatement (as ``timetravel_restate_read``), then run the
    fingerprint snapshot diff over ``read(v1)`` vs ``read(v2)`` — the
    time-travel store composes with the CDC operator, so "what changed
    between yesterday's and today's table" is a query, not an ETL run.
    """
    from ..plans.traffic import normalize_traffic, rollup_traffic
    from ..plans.traffic_queries import traffic_raw_from_events
    from .snapshot import snapshot_diff

    t = normalize_traffic(
        traffic_raw_from_events(load_table(spark, sf_dir, "events"))
    )

    def daily(df: DataFrame) -> DataFrame:
        return rollup_traffic(df, grain="day").select(
            "SiteCode",
            "Location",
            F.col("PeriodEnding").cast("date").alias("day"),
            "Ins",
        )

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.concat_ws(
                "|", "SiteCode", "Location", F.col("day").cast("string")
            ).alias("row_key"),
            F.col("Ins").cast("string").alias("content"),
        )

    table = process_staging_dir(f"ttdiff_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)

    def routed(df: DataFrame) -> DataFrame:
        return df.withColumn("_day_route", F.col("day").cast("string"))

    versioned_commit(spark, routed(daily(t)), table, partition_by="_day_route")
    corrected = t.filter(
        F.col("PeriodEnding") >= F.lit("2024-01-15 00:00:01").cast("timestamp")
    ).withColumn("Ins", F.col("Ins") + 1000)
    versioned_commit(
        spark,
        routed(daily(corrected)),
        table,
        replace=True,
        carry_unreplaced=F.col("day") <= F.lit("2024-01-15").cast("date"),
        partition_by="_day_route",
    )
    return snapshot_diff(
        keyed(versioned_read(spark, table, 1)),
        keyed(versioned_read(spark, table, 2)),
        key="row_key",
        content_col="content",
    ).orderBy("row_key")


def versioned_compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    _pre_claim_hook=None,
) -> tuple[int, int, int]:
    """Small-file compaction AS A COMMIT (VERDICT r06 task 3 — the
    Iceberg ``rewrite_data_files`` shape): bin-pack the current
    version's data files into ``ceil(bytes / target)`` new immutable
    files and claim them as a NEW CAS'd version whose logical content is
    identical.  Returns (new_version, files_before, files_after).

    Every prior version stays byte-stable and readable (compaction never
    touches an existing data file or manifest); the superseded small
    files become unreferenced once the retention window passes and
    :func:`versioned_vacuum` collects them.

    CONCURRENT APPENDS are safe: on a lost CAS race the compaction
    rebases by carrying every file the tip added since the base scan
    (their rows are not in the rewrite).  A concurrent REPLACE or
    second compaction that dropped any base file aborts with
    RuntimeError — the rewrite no longer covers the live content — and
    leaves only never-referenced files for vacuum to sweep.

    ``_pre_claim_hook`` (tests only) runs before the manifest claim to
    stage deterministic interleavings."""
    import math

    base_v = table_versions(spark, table_dir)[-1]
    with open(_manifest_path(table_dir, base_v)) as fh:
        base_files = json.load(fh)["files"]
    data_dir = os.path.join(table_dir, "data")
    if len(base_files) <= 1:
        return base_v, len(base_files), len(base_files)
    paths = [os.path.join(data_dir, f) for f in base_files]
    total = sum(os.path.getsize(p) for p in paths)
    n_out = max(1, math.ceil(total / target_file_bytes))
    commit_id = uuid.uuid4().hex[:12]
    staging = os.path.join(data_dir, f"_stage_{commit_id}")
    spark.read.parquet(*paths).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(staging)
    new_files = []
    for name in os.listdir(staging):
        if name.endswith(".parquet"):
            final = f"{commit_id}-{name}"
            os.replace(
                os.path.join(staging, name), os.path.join(data_dir, final)
            )
            new_files.append(final)
    shutil.rmtree(staging, ignore_errors=True)
    base_set = set(base_files)
    for _attempt in range(COMMIT_CAS_RETRIES):
        tip = table_versions(spark, table_dir)[-1]
        with open(_manifest_path(table_dir, tip)) as fh:
            tip_manifest = json.load(fh)
        tip_files = tip_manifest["files"]
        if base_set - set(tip_files):
            raise RuntimeError(
                "versioned_compact: a concurrent commit replaced files the "
                "compaction rewrote; aborting (staged files stay "
                "unreferenced for vacuum)"
            )
        carried = [f for f in tip_files if f not in base_set]
        version = tip + 1
        manifest = {"version": version, "files": sorted(new_files + carried)}
        # Compacted rewrites lose their source files' partition metadata
        # (a bin-packed file can mix partitions) — they become must-read,
        # which is always correct; carried files keep their entries.
        tip_parts = tip_manifest.get("partitions", {})
        parts = {f: tip_parts[f] for f in carried if f in tip_parts}
        if parts:
            manifest["partitions"] = parts
        if tip_manifest.get("txn"):
            manifest["txn"] = tip_manifest["txn"]
        tmp = _manifest_path(table_dir, version) + f".tmp{commit_id}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        if _pre_claim_hook is not None:
            _pre_claim_hook(version)
        try:
            os.link(tmp, _manifest_path(table_dir, version))
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        return version, len(base_files), len(new_files) + len(carried)
    raise IOError(
        f"compaction lost {COMMIT_CAS_RETRIES} consecutive CAS races on "
        f"{table_dir}"
    )


def versioned_rollback(
    spark: SparkSession, table_dir: str, to_version: int
) -> int:
    """RESTORE the table to an earlier version AS A NEW COMMIT (the
    Delta ``RESTORE TABLE`` / Iceberg rollback semantics): the new
    manifest simply re-lists ``to_version``'s file set — no data moves,
    history is preserved (the rolled-back-over versions stay readable),
    and the restore itself is one CAS-claimed manifest write, concurrent
    -writer safe like any commit."""
    versions = table_versions(spark, table_dir)
    if to_version not in versions:
        raise ValueError(f"version {to_version} not in {versions}")
    with open(_manifest_path(table_dir, to_version)) as fh:
        target_manifest = json.load(fh)
    files = target_manifest["files"]
    for _ in range(COMMIT_CAS_RETRIES):
        current = table_versions(spark, table_dir)[-1]
        version = current + 1
        manifest = {"version": version, "files": files}
        if target_manifest.get("partitions"):
            manifest["partitions"] = target_manifest["partitions"]
        # Carry the idempotence watermark from the TIP, not the restore
        # target: a restore undoes data, never the record of which app
        # txns were applied (else a replayed batch would re-commit).
        with open(_manifest_path(table_dir, current)) as fh:
            tip_txn = json.load(fh).get("txn", {})
        if tip_txn:
            manifest["txn"] = tip_txn
        tmp = _manifest_path(table_dir, version) + f".tmp{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, _manifest_path(table_dir, version))
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        return version
    raise IOError(f"rollback lost {COMMIT_CAS_RETRIES} CAS races")


def versioned_vacuum(
    spark: SparkSession, table_dir: str, retain_last: int = 2
) -> tuple[list[int], int]:
    """Garbage-collect history: drop all but the last ``retain_last``
    manifests, then delete every data file no surviving manifest
    references.  Returns (surviving versions, files deleted).

    The unreferenced-file sweep is what bounds storage under restatement
    churn (every replace-commit strands the replaced files once their
    manifests expire).  Ordering matters for crash safety: manifests are
    removed FIRST, so a crash mid-vacuum leaves orphaned data files
    (invisible, re-collectable) — never a manifest pointing at deleted
    data.  Single-administrator action by design (like compaction), and
    commits must be QUIESCED while it runs: a writer that read manifest
    N before the live-set computation could CAS-claim a manifest
    referencing files this sweep deletes.  As a cheap tripwire (not a
    lock) the manifest list is re-checked after the live set is built
    and the vacuum aborts if a new version appeared mid-computation."""
    if retain_last < 1:
        # retain_last=0 would delete every manifest while the
        # versions[-0:] slice simultaneously marks ALL files live —
        # an unreadable table that reports everything kept.
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    versions = table_versions(spark, table_dir)
    keep_versions = versions[-retain_last:]
    live: set[str] = set()
    for v in keep_versions:
        with open(_manifest_path(table_dir, v)) as fh:
            live.update(json.load(fh)["files"])
    if table_versions(spark, table_dir) != versions:
        raise RuntimeError(
            "versioned_vacuum: concurrent commit detected while computing "
            "the live set; quiesce writers and retry"
        )
    for v in versions[:-retain_last]:
        os.unlink(_manifest_path(table_dir, v))
    data_dir = os.path.join(table_dir, "data")
    deleted = 0
    for name in os.listdir(data_dir):
        if name.endswith(".parquet") and name not in live:
            os.unlink(os.path.join(data_dir, name))
            deleted += 1
    return keep_versions, deleted


@register(
    "timetravel_rollback_read",
    # After the bad v2 restatement is rolled back, the LATEST read must
    # be byte-identical to v1's original rollup — while v2 stays in
    # history (the audit trail survives the undo).
    oracle="""
    WITH traffic AS (
        SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS SiteCode,
               event_type AS Location,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
                   AS PeriodEnding
        FROM events
    ),
    rolled AS (
        SELECT SiteCode, Location,
               CAST(date_trunc('day', PeriodEnding - INTERVAL 1 SECOND)
                    + INTERVAL 1 DAY AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM traffic GROUP BY 1, 2, 3
    )
    SELECT SiteCode, Location, day, n FROM rolled
    ORDER BY SiteCode, Location, day
    """,
)
def timetravel_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit v1 (daily event counts), commit a corrupted v2 (every
    count doubled — the bad deploy), RESTORE to v1 as v3, and read the
    latest: it must hash-match the original state, with v2 still
    present in history."""

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            F.concat(F.lit("S"), (F.col("user_id") % 5).cast("string")).alias(
                "SiteCode"
            ),
            F.col("event_type").alias("Location"),
            F.date_add(
                F.date_trunc(
                    "day", F.col("ts") - F.expr("INTERVAL 1 SECOND")
                ).cast("date"),
                1,
            ).alias("day"),
        )
        .groupBy("SiteCode", "Location", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    table = process_staging_dir(f"ttrollback_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    versioned_commit(spark, daily, table)
    versioned_commit(
        spark, daily.withColumn("n", F.col("n") * 2), table, replace=True
    )
    restored = versioned_rollback(spark, table, 1)
    assert restored == 3 and table_versions(spark, table) == [1, 2, 3]
    return versioned_read(spark, table).select(
        "SiteCode", "Location", "day", "n"
    ).orderBy("SiteCode", "Location", "day")


@register(
    "timetravel_schema_evolution",
    # Additive schema change mid-history: pinned pre-change reads keep
    # the ORIGINAL schema; the latest read carries the widened schema
    # with nulls for pre-change rows.
    oracle="""
    WITH base AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    ),
    delta AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST('nightly' AS VARCHAR) AS ingest_tag
        FROM documents WHERE doc_id % 2 = 1 GROUP BY lang
    )
    SELECT lang, n_docs, CAST(NULL AS VARCHAR) AS ingest_tag FROM base
    UNION ALL
    SELECT lang, n_docs, ingest_tag FROM delta
    ORDER BY lang, ingest_tag NULLS FIRST, n_docs
    """,
)
def timetravel_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit v1 with the original (lang, n_docs) schema, append v2
    whose rows carry a NEW ``ingest_tag`` column, then read the latest
    with schema merging: v1's rows surface with a null tag, v2's with
    theirs — and a pinned ``read(version=1)`` (asserted inline) still
    returns the original two-column schema, untouched by the evolution."""

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    delta = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("ingest_tag", F.lit("nightly"))
    )
    table = process_staging_dir(f"ttschema_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    versioned_commit(spark, base, table)
    versioned_commit(spark, delta, table)  # append with the new column
    v1_schema = set(versioned_read(spark, table, 1).columns)
    assert v1_schema == {"lang", "n_docs"}, v1_schema
    return (
        versioned_read(spark, table, merge_schema=True)
        .select("lang", "n_docs", "ingest_tag")
        .orderBy("lang", F.col("ingest_tag").asc_nulls_first(), "n_docs")
    )


@register(
    "timetravel_compact_read",
    # The latest read after compact+vacuum is exactly the union of both
    # committed halves — compaction changed layout, never content.
    oracle="""
    SELECT o_orderkey,
           CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders
    ORDER BY o_orderkey
    """,
)
def timetravel_compact_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file lifecycle on the manifest tier: commit v1 (8 files),
    append v2 (8 more), COMPACT into v3 (content-identical, far fewer
    files), then VACUUM the superseded versions — the latest read must
    still hash-match the raw relation.  Inline assertions pin that v2
    stays readable and byte-stable after the compaction commit (mtime
    check) until vacuum retires it, and that the file count dropped."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    table = process_staging_dir(f"ttcompact_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    versioned_commit(
        spark, orders.filter(F.col("o_orderkey") % 2 == 0).repartition(8), table
    )
    versioned_commit(
        spark, orders.filter(F.col("o_orderkey") % 2 == 1).repartition(8), table
    )
    m2 = _manifest_path(table, 2)
    m2_stat = os.stat(m2)
    v3, before, after = versioned_compact(spark, table)
    assert (v3, before) == (3, 16) and after < before, (v3, before, after)
    # prior version untouched by the compaction commit and still readable
    assert os.stat(m2).st_mtime_ns == m2_stat.st_mtime_ns
    assert versioned_read(spark, table, 2).count() == orders.count()
    keep, deleted = versioned_vacuum(spark, table, retain_last=1)
    assert keep == [3] and deleted == 16, (keep, deleted)
    return versioned_read(spark, table).orderBy("o_orderkey")


def versioned_delta_read(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """Rows ADDED between two versions — the incremental-consumption
    primitive (Delta's stream-from-table / Iceberg incremental scan):
    read exactly the data files ``to_version``'s manifest lists beyond
    ``from_version``'s, an O(manifest) planning step + a scan of only
    the delta files.  Append-only contract: raises if ``to_version``
    dropped any of ``from_version``'s files (a replace/restatement in
    the range needs the row-level CDC diff, ``versioned_diff``, not a
    file-level delta)."""
    with open(_manifest_path(table_dir, from_version)) as fh:
        old_files = set(json.load(fh)["files"])
    with open(_manifest_path(table_dir, to_version)) as fh:
        new_files = json.load(fh)["files"]
    removed = old_files - set(new_files)
    if removed:
        raise ValueError(
            f"versions {from_version}->{to_version} removed files "
            f"{sorted(removed)[:3]}...; not an append-only range"
        )
    added = [f for f in new_files if f not in old_files]
    if not added:
        return versioned_read(spark, table_dir, to_version).limit(0)
    return spark.read.parquet(
        *[os.path.join(table_dir, "data", f) for f in added]
    )


@register(
    "mv_incremental_refresh",
    # The MV after two incremental refreshes == the full aggregate over
    # every committed row.
    oracle="""
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance ON the versioned table tier: the MV
    (revenue per customer) is computed once at version 1, then two
    append commits land and each refresh reads ONLY the delta files via
    :func:`versioned_delta_read`, aggregates the delta, and merges it
    additively into the stored MV — never rescanning the base.  The
    refreshed MV must hash-match the full aggregate over all committed
    rows.

    At 100 TB this is the nightly-MV economics: refresh cost is
    O(delta) + O(affected MV keys), planning is O(manifest), and the
    version number stored with the MV is the exactly-once cursor (a
    crashed refresh re-runs from the recorded version — the same
    watermark discipline as the reference's ToDate protocol,
    script.js:54, lifted to the storage tier)."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    table = process_staging_dir(f"mvrefresh_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    third = F.col("o_orderkey") % 3
    versioned_commit(spark, orders.filter(third == 0), table)
    mv = (
        versioned_read(spark, table, 1)
        .groupBy("o_custkey")
        .agg(
            F.sum("price_cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    versioned_commit(spark, orders.filter(third == 1), table)
    versioned_commit(spark, orders.filter(third == 2), table)

    def refresh(mv_df, from_v, to_v):
        delta = versioned_delta_read(spark, table, from_v, to_v)
        d_agg = delta.groupBy("o_custkey").agg(
            F.sum("price_cents").alias("d_rev"),
            F.count(F.lit(1)).alias("d_n"),
        )
        return (
            mv_df.join(d_agg, "o_custkey", "full")
            .select(
                "o_custkey",
                (
                    F.coalesce(F.col("revenue_cents"), F.lit(0))
                    + F.coalesce(F.col("d_rev"), F.lit(0))
                ).alias("revenue_cents"),
                (
                    F.coalesce(F.col("n_orders"), F.lit(0))
                    + F.coalesce(F.col("d_n"), F.lit(0))
                ).alias("n_orders"),
            )
        )

    # two incremental hops: v1 -> v2, then v2 -> v3 (cursor discipline)
    mv2 = refresh(mv, 1, 2).localCheckpoint(eager=True)
    mv3 = refresh(mv2, 2, 3)
    return mv3.orderBy("o_custkey")


@register(
    "orders_merge_cdf",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
    FROM base WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, 'update_preimage',
           CAST(2 AS BIGINT)
    FROM base
    WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 != 0 AND o_orderstatus <> 'U'
    UNION ALL
    SELECT o_orderkey, o_custkey, 'U', 'update_postimage', CAST(2 AS BIGINT)
    FROM base
    WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 != 0 AND o_orderstatus <> 'U'
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, 'N', 'insert', CAST(2 AS BIGINT)
    FROM base WHERE o_orderkey % 11 = 0
    ORDER BY o_orderkey, _change_type
    """,
)
def orders_merge_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed ON MERGE, cross-validated against CDC-by-diff:
    orders commits as v1 of a versioned table; a CDC batch (updates on
    every 5th key, tombstones on every 7th, brand-new keys from every
    11th) merges in as v2 via ``merge_with_tombstones``; and the feed
    the consumer reads is :func:`merge_cdf`'s output tagged with the
    commit version — emitted from the merge join itself at O(delta)
    cost.  Inline asserts reconcile the two CDC derivations: the feed's
    insert−delete balance must equal v2−v1 row counts (what
    ``versioned_diff`` would report), and no-op updates must emit
    nothing.  The oracle recomputes every expected change row in SQL.

    Reference anchor: this is script.js's upsert feed (script.js:186-200)
    upgraded to a full CDC contract — deletes, idempotent no-ops, and a
    downstream-consumable change log, none of which the reference's
    Oracle MERGE exposes."""
    from .merge import merge_cdf, merge_with_tombstones

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    upd = (
        base.filter((k % 5 == 0) & (k % 7 != 0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("is_delete", F.lit(False))
        .unionByName(
            base.filter(k % 7 == 0).withColumn("is_delete", F.lit(True))
        )
        .unionByName(
            base.filter(k % 11 == 0)
            .withColumn("o_orderkey", k + 10_000_000)
            .withColumn("o_orderstatus", F.lit("N"))
            .withColumn("is_delete", F.lit(False))
        )
    )
    table = process_staging_dir(f"mergecdf_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    v1 = versioned_commit(spark, base, table)
    merged = merge_with_tombstones(base, upd, ["o_orderkey"])
    v2 = versioned_commit(spark, merged, table, replace=True)
    feed = merge_cdf(base, upd, ["o_orderkey"], "is_delete").withColumn(
        "_commit_version", F.lit(v2).cast("long")
    )
    feed = feed.localCheckpoint(eager=True)
    # CDC-on-write vs CDC-by-diff reconciliation at the count level:
    # inserts - deletes == net row growth between the two versions.
    kinds = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n1 = versioned_read(spark, table, v1).count()
    n2 = versioned_read(spark, table, v2).count()
    assert kinds.get("insert", 0) - kinds.get("delete", 0) == n2 - n1, kinds
    assert kinds.get("update_preimage", 0) == kinds.get("update_postimage", 0)
    return feed.orderBy("o_orderkey", "_change_type")


@register(
    "orders_cdf_apply",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus
    FROM orders
    WHERE o_orderkey % 7 != 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_custkey, 'N'
    FROM orders WHERE o_orderkey % 11 = 0
    ORDER BY o_orderkey
    """,
)
def orders_cdf_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC CONSUME: replay the merge's change-data feed onto the pre-merge
    snapshot and reconstruct the post-merge table — the downstream half of
    ``orders_merge_cdf`` (which proves the feed is EMITTED correctly; this
    proves the feed is SUFFICIENT).  A replica that holds v1 and applies
    the feed must equal v2 row-for-row; the oracle recomputes v2 from
    scratch in SQL, so any change row the feed dropped, duplicated, or
    mis-typed breaks the hash.

    Same delta as orders_merge_cdf: every 5th key updated, every 7th
    tombstoned (tombstone wins over update), every 11th inserted under a
    shifted key.  Plan: merge_cdf's single left join builds the feed;
    cdf_apply is one anti join + union — O(delta) end to end.

    Reference anchor: script.js:186-200 re-ships full rows to Oracle every
    run; feed-replay ships only changes and still lands identical state.
    """
    from .merge import cdf_apply, merge_cdf

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    upd = (
        base.filter((k % 5 == 0) & (k % 7 != 0))
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("is_delete", F.lit(False))
        .unionByName(
            base.filter(k % 7 == 0).withColumn("is_delete", F.lit(True))
        )
        .unionByName(
            base.filter(k % 11 == 0)
            .withColumn("o_orderkey", k + 10_000_000)
            .withColumn("o_orderstatus", F.lit("N"))
            .withColumn("is_delete", F.lit(False))
        )
    )
    feed = merge_cdf(base, upd, ["o_orderkey"], "is_delete")
    return cdf_apply(base, feed, ["o_orderkey"]).orderBy("o_orderkey")


def prune_partition_files(
    files: list[str],
    partitions: dict[str, dict[str, str]],
    filters: dict[str, str],
) -> tuple[list[str], list[str]]:
    """Split a manifest's file list into (keep, skipped) under equality
    ``filters`` on partition columns, Iceberg per-spec pruning semantics:
    a file is skipped ONLY if its recorded partition metadata names the
    filter column with a DIFFERENT value.  Files with no metadata (older
    spec, compacted rewrites) or without that column are kept — pruning
    is an optimization, never a correctness dependency, which is exactly
    what lets the partition spec EVOLVE without rewriting history."""
    keep, skipped = [], []
    for f in files:
        part = partitions.get(f, {})
        if any(c in part and part[c] != str(v) for c, v in filters.items()):
            skipped.append(f)
        else:
            keep.append(f)
    return keep, skipped


def versioned_read_pruned(
    spark: SparkSession,
    table_dir: str,
    filters: dict[str, str],
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Partition-pruned AS-OF read: resolve the manifest, skip files whose
    recorded partition values contradict ``filters``, and scan the rest.
    Returns (df, files_read, files_skipped).  The caller must still apply
    the row-level filter — files from pre-evolution specs can mix values
    (that's the whole point of per-file spec metadata).

    At 100 TB this is the manifest tier's partition pruning: an O(files)
    metadata decision on the driver replaces listing + scanning every
    file, and a spec change (e.g. daily → hourly partitioning, or adding
    a routing column) applies to NEW files only — old data is never
    rewritten, old versions stay byte-stable and readable."""
    versions = table_versions(spark, table_dir)
    if version is None:
        version = versions[-1]
    with open(_manifest_path(table_dir, version)) as fh:
        manifest = json.load(fh)
    keep, skipped = prune_partition_files(
        manifest["files"], manifest.get("partitions", {}), filters
    )
    if not keep:
        raise ValueError(
            f"pruning {filters} left no files in v{version} of {table_dir}"
        )
    df = spark.read.parquet(
        *[os.path.join(table_dir, "data", f) for f in keep]
    )
    return df, len(keep), len(skipped)


@register(
    "timetravel_partition_evolution",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def timetravel_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION on the manifest tier (the Iceberg
    capability Delta's directory layout can't give): v1 commits half the
    orders UNPARTITIONED (spec 0); v2 appends the other half routed by
    ``status_route`` = o_orderstatus (spec 1).  A status='F' read of the
    latest version then prunes at the FILE level among spec-1 files while
    reading every spec-0 file, applies the row filter on top, and must
    equal a plain filtered scan of the whole table — history unrewritten,
    both specs live in one version.

    Inline asserts pin the pruning shape: at least one spec-1 file was
    skipped, and no spec-0 (metadata-less) file was.  tests/
    test_timetravel.py adds the rebase-carry, rollback-carry and
    compaction-degrades-to-must-read cases.

    Reference anchor: script.js:184-214 rewrites one flat Oracle table in
    place — no layout history at all; this is the §2.10 storage-tier
    extension where even the PARTITIONING is versioned."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).alias("price_cents"),
    )
    table = process_staging_dir(f"partevo_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    half = F.col("o_orderkey") % 2
    # spec 0: unpartitioned history
    versioned_commit(spark, orders.filter(half == 0), table)
    # spec 1: new data routed by status (the data column stays readable)
    versioned_commit(
        spark,
        orders.filter(half == 1).withColumn(
            "status_route", F.col("o_orderstatus")
        ),
        table,
        partition_by="status_route",
    )
    df, n_read, n_skipped = versioned_read_pruned(
        spark, table, {"status_route": "F"}
    )
    with open(_manifest_path(table, 2)) as fh:
        m = json.load(fh)
    spec1 = set(m.get("partitions", {}))
    _, skipped = prune_partition_files(
        m["files"], m.get("partitions", {}), {"status_route": "F"}
    )
    assert skipped and set(skipped) <= spec1, (
        "pruning must skip only spec-1 files",
        skipped,
    )
    return (
        df.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def table_history(spark: SparkSession, table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY for the manifest tier: one dict per version with
    file/byte accounting, the commit kind inferred from the file-set
    delta (append / replace / compact-or-restate), spec columns present,
    and the txn idempotence map.  Pure O(versions × files) metadata —
    no data file is opened."""
    data_dir = os.path.join(table_dir, "data")
    out = []
    prev_files: set[str] = set()
    seen_sets: list[frozenset] = []
    for v in table_versions(spark, table_dir):
        with open(_manifest_path(table_dir, v)) as fh:
            m = json.load(fh)
        files = set(m["files"])
        added, dropped = files - prev_files, prev_files - files
        live_bytes = 0
        for f in files:
            p = os.path.join(data_dir, f)
            if os.path.exists(p):
                live_bytes += os.path.getsize(p)
        # a RESTORE re-lists an earlier version's exact file set — the
        # only commit kind not inferable from the delta alone
        if frozenset(files) in seen_sets:
            kind = "rollback"
        elif not dropped:
            kind = "append"
        else:
            kind = "replace"
        seen_sets.append(frozenset(files))
        spec_cols = sorted(
            {c for part in m.get("partitions", {}).values() for c in part}
        )
        out.append(
            {
                "version": v,
                "n_files": len(files),
                "files_added": len(added),
                "files_dropped": len(dropped),
                "live_bytes": live_bytes,
                "kind": kind,
                "spec_cols": spec_cols,
                "txn": m.get("txn", {}),
            }
        )
        prev_files = files
    return out


@register(
    "timetravel_table_history",
    # STRICT since r8: with deterministic file layout per commit
    # (coalesce(1) appends; the partitioned append repartitioned by its
    # spec column → one file per status), the whole history — versions,
    # file counts, add/drop accounting, inferred kinds, spec evolution —
    # is a literal table.  A mismatch catches wrong manifest accounting,
    # a mis-inferred kind, or broken rollback bookkeeping.
    oracle="""
    SELECT * FROM (VALUES
        (1, 1, 1, 0, 'append',   ''),
        (2, 4, 3, 0, 'append',   'status_route'),
        (3, 1, 1, 4, 'replace',  ''),
        (4, 4, 4, 1, 'rollback', 'status_route')
    ) AS t(version, n_files, files_added, files_dropped, kind, spec_cols)
    ORDER BY version
    """,
)
def timetravel_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational audit surface of the versioned tier (Delta's
    DESCRIBE HISTORY / Iceberg's snapshots table): stage a 4-commit
    lifecycle — append, partitioned append (spec evolution), replace
    restatement, rollback — and return one row per version with file and
    byte accounting and the inferred commit kind.  File layout is pinned
    per commit (coalesce / repartition-by-spec-column) so the history is
    strict-hash-checkable against a literal oracle (r8; requires all
    three order statuses present — true at every fixture sf the gates
    run); the byte-accounting invariants are pytest-pinned."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    table = process_staging_dir(f"history_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    half = F.col("o_orderkey") % 2
    versioned_commit(spark, orders.filter(half == 0).coalesce(1), table)
    versioned_commit(
        spark,
        orders.filter(half == 1)
        .withColumn("status_route", F.col("o_orderstatus"))
        .repartition("status_route"),
        table,
        partition_by="status_route",
    )
    versioned_commit(
        spark, orders.filter(half == 0).coalesce(1), table, replace=True
    )
    versioned_rollback(spark, table, 2)
    hist = table_history(spark, table)
    return spark.createDataFrame(
        [
            (
                h["version"],
                h["n_files"],
                h["files_added"],
                h["files_dropped"],
                h["kind"],
                ",".join(h["spec_cols"]),
            )
            for h in hist
        ],
        "version int, n_files int, files_added int, files_dropped int, "
        "kind string, spec_cols string",
    ).orderBy("version")


@register(
    "timetravel_vacuum_gc",
    # VACUUM lifecycle with deterministic file accounting: 3 single-file
    # commits (append even / append odd / replace-with-even), then
    # retain_last=1 keeps only v3 whose manifest references one file —
    # the two stranded files GC.  The latest read afterwards is exactly
    # the even half of orders.
    oracle="""
    SELECT CAST(3 AS INT) AS surviving_version,
           CAST(1 AS INT) AS n_versions_left,
           CAST(2 AS INT) AS files_deleted,
           CAST(COUNT(*) AS BIGINT) AS latest_rows
    FROM orders WHERE o_orderkey % 2 = 0
    """,
)
def timetravel_vacuum_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / history GC surfaced as a registry lifecycle query
    (VERDICT r07 task 6 — previously pytest-only): stage an
    append/append/replace history with one data file per commit, vacuum
    down to the last version, and report surviving-version / GC'd-file
    accounting plus the post-vacuum latest read's row count.  The strict
    oracle recomputes all four from orders — a mismatch catches a wrong
    live-set computation, a manifest left behind, or a data file the
    sweep missed or over-deleted."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    table = process_staging_dir(f"vacgc_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    half = F.col("o_orderkey") % 2
    even = orders.filter(half == 0).coalesce(1)
    odd = orders.filter(half == 1).coalesce(1)
    versioned_commit(spark, even, table)  # v1: file A
    versioned_commit(spark, odd, table)  # v2: files A+B
    versioned_commit(spark, even, table, replace=True)  # v3: file C only
    keep, deleted = versioned_vacuum(spark, table, retain_last=1)
    latest_rows = versioned_read(spark, table).count()
    return spark.createDataFrame(
        [(keep[-1], len(keep), deleted, latest_rows)],
        "surviving_version int, n_versions_left int, files_deleted int, "
        "latest_rows long",
    )


# ---------------------------------------------------------------------------
# cross-table transactional snapshots (catalog tier)
# ---------------------------------------------------------------------------


def _catalog_dir(root: str) -> str:
    return os.path.join(root, "_txns")


def _rebase_claim(
    versions: dict[str, int], history: list[dict]
) -> dict[str, int]:
    """Monotone catalog claim: per-table max of this writer's committed
    versions and the latest manifest's recorded versions, so a txn never
    points a table at an OLDER version than its predecessor (the lost-CAS
    concurrent-writer hazard — see :func:`multi_table_commit`).

    The claim CARRIES FORWARD every table in the latest manifest, not
    just the tables this txn touched (ADVICE r08): a transaction
    committing a subset of the catalog must not produce a manifest whose
    ``multi_table_read(latest)`` silently drops the untouched tables —
    the latest cut stays monotone AND complete per table."""
    latest = history[-1].get("tables", {}) if history else {}
    return {
        **latest,
        **{n: max(v, latest.get(n, 0)) for n, v in versions.items()},
    }


def multi_table_commit(
    spark: SparkSession,
    root: str,
    tables: dict[str, DataFrame],
    replace: bool = False,
    txn_id: tuple[str, int] | None = None,
) -> int:
    """Commit several tables as ONE atomic cross-table transaction — the
    catalog-level atomicity per-table logs cannot give (Iceberg solves it
    with a catalog pointer; Delta historically couldn't span tables).

    Each table commits through :func:`versioned_commit` first (data +
    per-table manifest, each individually CAS-safe); then a single
    catalog manifest ``<root>/_txns/t{N}.json`` records the exact
    per-table version VECTOR, claimed with the same link-if-absent CAS.
    Readers resolving "as of txn N" get a CONSISTENT view across all
    tables — a writer crash between table commits leaves newer table
    versions unreferenced by any txn, invisible at the catalog tier.
    A lost catalog race REBASES before re-claiming (ADVICE r07): with
    two genuinely concurrent writers the loser's own version vector can
    be stale by the time it claims txn N+1, and re-claiming it verbatim
    would point tables at OLDER versions than the winner's txn N — a
    non-monotone cut that silently drops the winner's rows from
    latest-reads.  The loser therefore claims per-table
    ``max(own committed version, winner's recorded version)``, keeping
    the catalog's latest cut monotone per table.
    """
    def _applied(history: list[dict]) -> int | None:
        # catalog-level idempotence ledger (the table tier's Delta
        # txnAppId/txnVersion pattern lifted to transactions): manifests
        # carry the highest applied id per app, monotone along history; a
        # replayed batch returns the txn that first recorded it
        if txn_id is None:
            return None
        for m in history:  # ascending — first carrier introduced it
            if m.get("applied", {}).get(txn_id[0], -1) >= txn_id[1]:
                return m["txn"]
        return None

    os.makedirs(_catalog_dir(root), exist_ok=True)
    pre = catalog_history(spark, root)
    hit = _applied(pre)
    if hit is not None:
        return hit
    versions: dict[str, int] = {}
    for name, df in tables.items():
        tdir = os.path.join(root, name)
        os.makedirs(os.path.join(tdir, "data"), exist_ok=True)
        tbl_txn = (
            (f"{txn_id[0]}/{name}", txn_id[1]) if txn_id is not None else None
        )
        versions[name] = versioned_commit(
            spark, df, tdir, replace=replace, txn=tbl_txn
        )
    for _ in range(COMMIT_CAS_RETRIES):
        history = catalog_history(spark, root)
        hit = _applied(history)
        if hit is not None:
            return hit  # a racing replay already claimed this txn_id
        txn = (history[-1]["txn"] + 1) if history else 1
        manifest = {
            "txn": txn,
            "tables": _rebase_claim(versions, history),
        }
        applied = dict(history[-1].get("applied", {})) if history else {}
        if txn_id is not None:
            applied[txn_id[0]] = txn_id[1]
        if applied:
            manifest["applied"] = applied
        tmp = os.path.join(
            _catalog_dir(root), f"t{txn}.json.tmp{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, os.path.join(_catalog_dir(root), f"t{txn}.json"))
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        return txn
    raise IOError(f"multi_table_commit lost {COMMIT_CAS_RETRIES} CAS races")


def multi_table_read(
    spark: SparkSession, root: str, txn: int | None = None
) -> dict[str, DataFrame]:
    """The catalog AS OF ``txn`` (latest when None): every member table
    pinned to the version the transaction recorded — one consistent
    cross-table cut, regardless of later per-table commits."""
    existing = sorted(
        int(n[1:-5])
        for n in os.listdir(_catalog_dir(root))
        if n.startswith("t") and n.endswith(".json")
    )
    if txn is None:
        txn = existing[-1]
    if txn not in existing:
        raise ValueError(f"txn {txn} not in {existing}")
    with open(os.path.join(_catalog_dir(root), f"t{txn}.json")) as fh:
        manifest = json.load(fh)
    return {
        name: versioned_read(spark, os.path.join(root, name), v)
        for name, v in manifest["tables"].items()
    }


@register(
    "catalog_snapshot_join",
    oracle="""
    WITH o AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    l AS (SELECT * FROM lineitem WHERE l_orderkey % 2 = 0)
    SELECT o.o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM o JOIN l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def catalog_snapshot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table TRANSACTIONAL consistency: txn 1 commits matching
    halves of orders+lineitem atomically; txn 2 appends the other halves.
    A fact⋈dim join pinned to txn 1 must see BOTH tables at their txn-1
    versions — never orders@t1 with lineitem@t2 (the torn read per-table
    pinning can't prevent when writers advance tables at different
    times).  Inline assert: every joined lineitem's order exists in the
    pinned orders cut (FK closure — torn reads break it); the oracle
    recomputes txn 1's content from scratch.  tests/test_timetravel.py
    adds crash-window invisibility and post-append stability."""

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).alias("cents"),
    )
    root = process_staging_dir(f"catalog_{uuid.uuid4().hex[:8]}")
    even_o, even_l = F.col("o_orderkey") % 2 == 0, F.col("l_orderkey") % 2 == 0
    t1 = multi_table_commit(
        spark,
        root,
        {"orders": orders.filter(even_o), "lineitem": li.filter(even_l)},
    )
    multi_table_commit(
        spark,
        root,
        {"orders": orders.filter(~even_o), "lineitem": li.filter(~even_l)},
    )
    cut = multi_table_read(spark, root, t1)
    o, l = cut["orders"], cut["lineitem"]
    # FK closure inside the pinned cut: a torn read (orders@t1 ⋈
    # lineitem@t2) would surface lineitems whose orders are missing
    orphans = l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_anti")
    assert orphans.isEmpty(), "torn cross-table read: orphan lineitems"
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def catalog_history(spark: SparkSession, root: str) -> list[dict]:
    """All transactions, ascending: [{txn, tables: {name: version}}] —
    O(txns) metadata, the catalog's DESCRIBE HISTORY."""
    out = []
    for n in sorted(
        os.listdir(_catalog_dir(root))
        if os.path.isdir(_catalog_dir(root))
        else []
    ):
        if n.startswith("t") and n.endswith(".json"):
            with open(os.path.join(_catalog_dir(root), n)) as fh:
                out.append(json.load(fh))
    out.sort(key=lambda m: m["txn"])
    return out


def multi_table_rollback(spark: SparkSession, root: str, to_txn: int) -> int:
    """RESTORE the catalog to an earlier transaction AS A NEW txn: the
    new catalog manifest simply re-records ``to_txn``'s per-table version
    vector — no table commits, no data movement, history preserved; the
    claim is the same link-if-absent CAS as any txn."""
    history = {m["txn"]: m for m in catalog_history(spark, root)}
    if to_txn not in history:
        raise ValueError(f"txn {to_txn} not in {sorted(history)}")
    vector = history[to_txn]["tables"]
    for _ in range(COMMIT_CAS_RETRIES):
        latest = max(history) if history else 0
        txn = latest + 1
        manifest = {"txn": txn, "tables": vector}
        # carry the idempotence ledger from the TIP, not the restore
        # target — a restore undoes data, never the record of applied
        # batches (the versioned_rollback discipline, catalog tier)
        tip_applied = history[latest].get("applied", {}) if history else {}
        if tip_applied:
            manifest["applied"] = tip_applied
        tmp = os.path.join(
            _catalog_dir(root), f"t{txn}.json.tmp{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, os.path.join(_catalog_dir(root), f"t{txn}.json"))
        except FileExistsError:
            os.unlink(tmp)
            history = {m["txn"]: m for m in catalog_history(spark, root)}
            continue
        os.unlink(tmp)
        return txn
    raise IOError(f"catalog rollback lost {COMMIT_CAS_RETRIES} CAS races")


def catalog_vacuum(
    spark: SparkSession, root: str, retain_last: int = 2
) -> tuple[list[int], int]:
    """Garbage-collect catalog history: drop all but the last
    ``retain_last`` transactions, then in every member table delete the
    versions (manifests AND their exclusively-referenced data files) no
    retained transaction records — INCLUDING crash-window orphans that
    no txn ever referenced.  Returns (kept txns, data files deleted).

    Same single-administrator contract as :func:`versioned_vacuum`:
    writers must be quiesced — an in-flight multi-table commit's table
    versions look exactly like orphans until its catalog claim lands."""
    if retain_last < 1:
        raise ValueError(f"retain_last must be >= 1, got {retain_last}")
    history = catalog_history(spark, root)
    kept, dropped = history[-retain_last:], history[:-retain_last]
    kept_txns = [m["txn"] for m in kept]
    for m in dropped:
        os.unlink(os.path.join(_catalog_dir(root), f"t{m['txn']}.json"))
    tables = sorted({t for m in history for t in m["tables"]})
    deleted = 0
    for name in tables:
        tdir = os.path.join(root, name)
        live_versions = {m["tables"][name] for m in kept if name in m["tables"]}
        live_files: set[str] = set()
        for v in sorted(live_versions):
            with open(_manifest_path(tdir, v)) as fh:
                live_files.update(json.load(fh)["files"])
        for v in table_versions(spark, tdir):
            if v not in live_versions:
                os.unlink(_manifest_path(tdir, v))
        data_dir = os.path.join(tdir, "data")
        for f in os.listdir(data_dir):
            if f.endswith(".parquet") and f not in live_files:
                os.unlink(os.path.join(data_dir, f))
                deleted += 1
    return kept_txns, deleted


def shallow_clone(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    version: int | None = None,
) -> int:
    """Zero-copy clone of ``src_table`` AS OF ``version`` (latest when
    None): the clone's v1 manifest lists ABSOLUTE references to the
    source's data files — no bytes move (Delta's SHALLOW CLONE shape).

    Absolute entries flow through the whole manifest tier untouched:
    ``versioned_read`` resolves them as-is (``os.path.join`` yields the
    absolute path back), appends via :func:`versioned_commit` carry them
    forward next to the clone's own (local, basename-referenced) files,
    and ``versioned_vacuum`` can never GC them — it only reconciles
    files physically under the CLONE's data directory, so a vacuum on
    the clone never touches source storage (and vice versa).  Writes to
    either side after the clone are invisible to the other: the fork
    point is the copied manifest, exactly once.

    VACUUM CAVEAT (inherent to shallow clones, same as Delta's): a
    vacuum on the SOURCE that garbage-collects files the clone still
    references breaks the clone.  Deep-copy (re-commit the clone's read)
    before vacuuming a source with live clones.
    """
    versions = table_versions(spark, src_table)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {src_table}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(_manifest_path(src_table, v)) as fh:
        src_manifest = json.load(fh)
    refs = [
        f if os.path.isabs(f) else os.path.join(src_table, "data", f)
        for f in src_manifest["files"]
    ]
    # Refuse BEFORE creating anything — a rejected clone must not leave
    # stray empty data/_manifests directories behind (ADVICE r09 #5).
    if table_versions(spark, dst_table):
        raise ValueError(f"clone target {dst_table} is not empty")
    os.makedirs(os.path.join(dst_table, "data"), exist_ok=True)
    os.makedirs(_manifest_dir(dst_table), exist_ok=True)
    manifest = {"version": 1, "files": sorted(refs)}
    parts = src_manifest.get("partitions")
    if parts:
        manifest["partitions"] = {
            os.path.join(src_table, "data", f)
            if not os.path.isabs(f)
            else f: p
            for f, p in parts.items()
        }
    tmp = _manifest_path(dst_table, 1) + ".tmp-clone"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.link(tmp, _manifest_path(dst_table, 1))
    os.unlink(tmp)
    return 1


@register(
    "timetravel_shallow_clone",
    # src holds orderkey%3∈{0,1} after two commits; the clone forks there
    # and appends %3==2 — src must stay unchanged, the clone sees all
    oracle="""
    WITH proj AS (
        SELECT o_orderkey,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT 'src' AS side, o_orderkey, cents
    FROM proj WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 'clone' AS side, o_orderkey, cents FROM proj
    ORDER BY side, o_orderkey
    """,
)
def timetravel_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE on the manifest tier: fork a versioned table by
    copying only its manifest (absolute file references — zero data
    copied), then diverge: an append to the clone is invisible to the
    source and shares every pre-fork file.  Inline assertions pin the
    zero-copy claim (the clone's data dir holds ONLY its own post-fork
    files) and isolation in both directions (source version count and
    rows unchanged after the clone's commit)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    root = process_staging_dir("clone", uuid.uuid4().hex)
    src, dst = os.path.join(root, "src", "t"), os.path.join(root, "dst", "t")
    versioned_commit(spark, orders.filter(F.col("o_orderkey") % 3 == 0), src)
    versioned_commit(spark, orders.filter(F.col("o_orderkey") % 3 == 1), src)
    src_versions_before = table_versions(spark, src)

    assert shallow_clone(spark, src, dst) == 1
    local_before = [
        f
        for f in os.listdir(os.path.join(dst, "data"))
        if f.endswith(".parquet")
    ]
    assert local_before == [], "clone copied data files"

    versioned_commit(spark, orders.filter(F.col("o_orderkey") % 3 == 2), dst)
    # zero-copy: the clone's only LOCAL files are the post-fork commit's
    local_after = [
        f
        for f in os.listdir(os.path.join(dst, "data"))
        if f.endswith(".parquet")
    ]
    assert local_after, "clone append wrote no local files"
    # isolation: the source saw nothing
    assert table_versions(spark, src) == src_versions_before
    src_df = versioned_read(spark, src).select(
        F.lit("src").alias("side"), "o_orderkey", "cents"
    )
    clone_df = versioned_read(spark, dst).select(
        F.lit("clone").alias("side"), "o_orderkey", "cents"
    )
    return src_df.unionByName(clone_df).orderBy("side", "o_orderkey")


def deep_clone(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    version: int | None = None,
) -> int:
    """Materialized clone: re-commit the source's AS-OF read as the
    target's own local files.  The operational answer to the shallow
    clone's documented caveat — a deep clone survives any source vacuum
    (and vice versa) because no manifest crosses table roots.  Costs one
    full data rewrite; shallow-then-deepen is the usual lifecycle
    (shallow for the instant fork, deep_clone before the source's
    retention window can GC shared files)."""
    df = versioned_read(spark, src_table, version)
    return versioned_commit(spark, df, dst_table)


# ---------------------------------------------------------------------------
# Branches (Nessie/Iceberg-refs shape): fork, commit, file-level 3-way merge
# ---------------------------------------------------------------------------


def _branch_meta_path(branch_table: str) -> str:
    return os.path.join(branch_table, "_branch.json")


def branch_create(
    spark: SparkSession, src_table: str, branch_table: str
) -> int:
    """Fork a writable branch off ``src_table``'s head: a shallow clone
    (zero-copy, absolute refs into the source) plus a recorded fork
    point — the git-for-data shape (Nessie / Iceberg branch refs).
    Writes on the branch and on main stay invisible to each other until
    :func:`merge_branch` lands the branch back."""
    versions = table_versions(spark, src_table)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {src_table}")
    base = versions[-1]
    v = shallow_clone(spark, src_table, branch_table, version=base)
    with open(_branch_meta_path(branch_table), "w") as fh:
        json.dump(
            {"src": os.path.abspath(src_table), "base_version": base}, fh
        )
    return v


def _abs_files(table_dir: str, manifest: dict) -> set[str]:
    return {
        f if os.path.isabs(f) else os.path.join(table_dir, "data", f)
        for f in manifest["files"]
    }


def merge_branch(spark: SparkSession, branch_table: str) -> int:
    """Land a branch back onto its source by FILE-LEVEL three-way merge:

        merged = (src_head − branch_removed) ∪ branch_added

    computed against the recorded fork point.  Because data files are
    immutable and a "row update" is remove-file + add-file, composing
    the two sides' file deltas IS the merge — no data moves, no rewrite,
    one metadata commit on the source (the CAS loop arbitrates against
    concurrent main writers exactly like any other commit).  Main
    history stays linear and every pre-merge version remains readable.

    This is a squash merge at file granularity: when both sides rewrote
    the SAME file (removed it and committed replacements) the branch's
    replacement wins for rows it carries and main's replacement
    survives alongside — row-level conflict resolution is the MERGE
    operator's job (operators/merge.py), run on the branch before
    landing.  Returns the new source version."""
    with open(_branch_meta_path(branch_table)) as fh:
        meta = json.load(fh)
    src_table, base_v = meta["src"], meta["base_version"]

    with open(_manifest_path(src_table, base_v)) as fh:
        base_m = json.load(fh)
    src_versions = table_versions(spark, src_table)
    with open(_manifest_path(src_table, src_versions[-1])) as fh:
        head_m = json.load(fh)
    br_versions = table_versions(spark, branch_table)
    with open(_manifest_path(branch_table, br_versions[-1])) as fh:
        br_m = json.load(fh)

    base = _abs_files(src_table, base_m)
    head = _abs_files(src_table, head_m)
    branch = _abs_files(branch_table, br_m)
    branch_added = branch - base
    branch_removed = base - branch
    merged = sorted((head - branch_removed) | branch_added)

    # Partition metadata for surviving files, from whichever side knows it.
    def _abs_parts(table_dir: str, manifest: dict) -> dict:
        return {
            (f if os.path.isabs(f) else os.path.join(table_dir, "data", f)): p
            for f, p in manifest.get("partitions", {}).items()
        }

    parts_abs = {**_abs_parts(src_table, head_m), **_abs_parts(branch_table, br_m)}

    src_data = os.path.join(os.path.abspath(src_table), "data")

    def _rel(f: str) -> str:
        # files physically under the source's data dir go back to
        # basenames (vacuum/compaction reconcile them); others stay
        # absolute (shallow refs into the branch's storage)
        return os.path.basename(f) if os.path.dirname(f) == src_data else f

    for _attempt in range(COMMIT_CAS_RETRIES):
        prev = table_versions(spark, src_table)
        version = prev[-1] + 1
        manifest = {
            "version": version,
            "files": sorted(_rel(f) for f in merged),
            "merge_of": {
                "branch": os.path.abspath(branch_table),
                "base_version": base_v,
            },
        }
        parts = {
            _rel(f): parts_abs[f] for f in merged if f in parts_abs
        }
        if parts:
            manifest["partitions"] = parts
        prev_txn = {}
        with open(_manifest_path(src_table, prev[-1])) as fh:
            prev_txn = json.load(fh).get("txn", {})
        if prev_txn:
            manifest["txn"] = prev_txn
        tmp = _manifest_path(src_table, version) + f".tmpmerge{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, _manifest_path(src_table, version))
        except FileExistsError:
            os.unlink(tmp)
            continue
        os.unlink(tmp)
        return version
    raise IOError(
        f"merge lost {COMMIT_CAS_RETRIES} consecutive CAS races on {src_table}"
    )


@register(
    "timetravel_branch_merge",
    # The merged head must hold all three priority slices; the pre-merge
    # main head must still read WITHOUT the branch's slice (isolation),
    # and the pre-merge read is taken AFTER the merge committed.
    oracle="""
    WITH slices AS (
        SELECT CASE o_orderpriority
                   WHEN '1-URGENT' THEN 'base'
                   WHEN '2-HIGH' THEN 'branch'
                   WHEN '3-MEDIUM' THEN 'main'
               END AS origin,
               o_orderkey, o_totalprice
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    )
    SELECT 'premerge_main' AS stage, origin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_centi
    FROM slices WHERE origin IN ('base', 'main')
    GROUP BY origin
    UNION ALL
    SELECT 'merged', origin,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT)
    FROM slices
    GROUP BY origin
    ORDER BY stage, origin
    """,
)
def timetravel_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch lifecycle: main commits the URGENT slice, a branch forks
    and commits the HIGH slice, main independently commits the MEDIUM
    slice, then the branch lands by file-level three-way merge.  The
    merged head shows all three slices; the pre-merge main version —
    read AFTER the merge — still shows exactly base+main (branch
    isolation and linear history in one certificate)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_centi"),
    )

    def slice_of(prio: str, origin: str) -> DataFrame:
        return orders.filter(F.col("o_orderpriority") == prio).select(
            "o_orderkey", F.lit(origin).alias("origin"), "price_centi"
        )

    main = process_staging_dir(f"branch_main_{uuid.uuid4().hex[:8]}")
    br = process_staging_dir(f"branch_fork_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(main, "data"), exist_ok=True)

    versioned_commit(spark, slice_of("1-URGENT", "base"), main)
    branch_create(spark, main, br)
    versioned_commit(spark, slice_of("2-HIGH", "branch"), br)
    main_pre_merge_v = versioned_commit(
        spark, slice_of("3-MEDIUM", "main"), main
    )
    merged_v = merge_branch(spark, br)

    def rollup(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("origin").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_centi").alias("total_centi"),
        ).select(F.lit(stage).alias("stage"), "origin", "n_orders", "total_centi")

    merged = rollup(versioned_read(spark, main, merged_v), "merged")
    pre = rollup(
        versioned_read(spark, main, main_pre_merge_v), "premerge_main"
    )
    return merged.unionByName(pre).orderBy("stage", "origin")
