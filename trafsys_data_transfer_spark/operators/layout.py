"""Data-layout maintenance: small-file compaction and Z-order clustering.

The reference writes to Oracle, where the storage engine owns layout.  A
parquet-backed engine owns it itself, and at 100 TB layout IS performance:

* **Small files** — incremental MERGE/streaming sinks produce one-or-few
  files per micro-batch; after months a day-partition holds hundreds of
  KB-sized files and every scan pays per-file open/footer/seek costs and
  schedules tiny tasks.  :func:`compact_parquet` bin-packs each partition
  back to ``target_file_bytes``-sized files.
* **Multi-column data skipping** — parquet scans prune files/row-groups by
  min/max stats, but stats only help if writes cluster values.  Sorting by
  one column localizes that column only; :func:`zorder_by` interleaves the
  bits of several columns into one Z-value so a sort by it localizes ALL
  of them — a 2-D box predicate then prunes most files instead of none.
  This is the same layout idea Delta/Iceberg expose as ``OPTIMIZE ...
  ZORDER BY``; here it is expressed with plain DataFrame ops (min/max
  scaling + bitwise interleave, all JVM/codegen — no UDFs).

Both operators are single-writer maintenance actions (like the MERGE sink,
SURVEY.md §7.4) and preserve row content exactly — tests assert the
relation is unchanged and that post-layout file stats actually prune.
"""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import (
    dir_data_bytes,
    list_data_files,
    process_staging_dir,
    swap_directories,
)
from ..registry import register
from ..sources.fixtures import load_table


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> int:
    """Rewrite a parquet table into ``ceil(bytes / target_file_bytes)``
    files (per partition when ``partition_col`` is given), atomically.

    Returns the number of files written.  File count is derived from the
    table's *current on-disk bytes*, so compaction is idempotent: a second
    run plans the same file count and rewrites nothing structurally new.
    128 MB default matches the scan-side ``maxPartitionBytes`` sweet spot —
    one task per file, no stragglers, bounded footer metadata.

    Sizing, swap, and file counting all go through Hadoop's ``FileSystem``
    for the table's scheme (see ``fsutil``) so compaction works on HDFS /
    object-store tables, not just the driver's local disk.
    """
    df = spark.read.parquet(path)
    n_files = max(1, math.ceil(dir_data_bytes(spark, path) / target_file_bytes))
    if partition_col:
        # Hash-cluster within each partition value: each task writes whole
        # partition directories, file count stays |partitions|-proportional.
        out = df.repartition(n_files, F.col(partition_col))
        writer = out.write.partitionBy(partition_col)
    else:
        out = df.repartition(n_files)
        writer = out.write
    tmp = f"{path}.__compact_{uuid.uuid4().hex}"
    writer.mode("overwrite").parquet(tmp)
    swap_directories(spark, tmp, path, f"{path}.__old_{uuid.uuid4().hex}")
    return sum(
        1 for p, _ in list_data_files(spark, path) if p.endswith(".parquet")
    )


def _zvalue(df: DataFrame, cols: Sequence[str], bits: int) -> Column:
    """Interleaved-bit Z-value over ``cols``, each min/max-scaled to
    ``bits`` bits.  Pure column expressions (one stats pass + bitwise
    shifts/ors), fully codegen'd — no UDF, no shuffle of its own."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).first()
    max_code = (1 << bits) - 1
    codes = []
    for c in cols:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * max_code
        codes.append(F.least(F.greatest(scaled.cast("long"), F.lit(0)), F.lit(max_code)))
    z = F.lit(0).cast("long")
    # Bit b of column i lands at position b*len(cols)+i (LSB-first round-robin).
    for b in range(bits):
        for i, code in enumerate(codes):
            bit = F.shiftright(code, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(codes) + i))
    return z


def zorder_by(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int,
    bits: int = 16,
) -> DataFrame:
    """Cluster ``df`` into ``n_files`` write tasks ordered along the Z-curve
    of ``cols``.  Write the result directly (`.write.parquet(...)`): each
    output file then covers one contiguous Z-range, i.e. a small hyper-box
    in the value space of ALL ``cols``, so min/max stats prune multi-column
    predicates.

    ``repartitionByRange`` samples the Z-value to build balanced range
    bounds (one extra pass over the projection, no full sort), then
    ``sortWithinPartitions`` orders rows inside each task — a total
    ordering across files without a single-partition global sort.

    Determinism note: Spark seeds the range-bound sampling with the RDD
    id, so file BOUNDARIES shift slightly between runs of the same data in
    a long-lived session (the relation and the total ordering are exact
    either way).  Pruning fractions are therefore statistical, not exact —
    size ``n_files`` so the expected skip rate clears your planning
    threshold with margin rather than sitting on it.
    """
    with_z = df.withColumn("__z", _zvalue(df, cols, bits))
    return (
        with_z.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


@register(
    "layout_compaction",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value, props FROM events
    """,
)
def layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction preserves the relation exactly (the oracle is
    the original table).

    The fixture is first scattered into 64 tiny files — the state an
    incremental MERGE/streaming sink leaves behind after months of
    micro-batches — then :func:`compact_parquet` bin-packs it back and
    the compacted table is returned for the driver's value-hash against
    the untouched source.  Green row == layout maintenance is
    content-neutral, the invariant that makes it safe to run under the
    nightly pipeline at 100 TB.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value", "props"
    )
    # Per-sf staging under the process-unique mkdtemp base: repeated
    # invocations in one process reuse a single directory (no tmpdir leak)
    # and concurrent sessions can't race each other's overwrites.
    staging = process_staging_dir(
        f"layout_{os.path.basename(os.path.normpath(sf_dir))}",
        "events_smallfiles",
    )
    events.repartition(64).write.mode("overwrite").parquet(staging)
    compact_parquet(spark, staging, target_file_bytes=8 * 1024 * 1024)
    return spark.read.parquet(staging)


def file_prune_fraction(
    path: str, predicates: dict[str, tuple[float, float]]
) -> float:
    """Fraction of the table's parquet files a multi-column box predicate
    can skip using footer min/max stats alone (the same decision a scan
    makes).  Used by tests and capacity planning to measure how much a
    layout actually prunes: higher is better, 0.0 means every file must be
    read."""
    import pyarrow.parquet as pq

    files = []
    for root, _dirs, names in os.walk(path):
        files.extend(
            os.path.join(root, n) for n in names if n.endswith(".parquet")
        )
    skipped = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        overlaps = True
        for col, (lo, hi) in predicates.items():
            col_min = min(
                md.row_group(g).column(
                    next(
                        i
                        for i in range(md.num_columns)
                        if md.row_group(g).column(i).path_in_schema == col
                    )
                ).statistics.min
                for g in range(md.num_row_groups)
            )
            col_max = max(
                md.row_group(g).column(
                    next(
                        i
                        for i in range(md.num_columns)
                        if md.row_group(g).column(i).path_in_schema == col
                    )
                ).statistics.max
                for g in range(md.num_row_groups)
            )
            if col_max < lo or col_min > hi:
                overlaps = False
                break
        if not overlaps:
            skipped += 1
    return skipped / len(files) if files else 0.0


@register(
    "layout_zorder",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value, props FROM events
    """,
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order re-clustering preserves the relation exactly (the oracle is
    the original table).

    The events fixture is rewritten along the Z-curve of (user_id, value)
    — the layout that lets a two-column box predicate prune most files by
    footer min/max stats alone (measured in tests/test_layout.py: ≥50%
    of files skipped where a single-column sort skips none).  The driver's
    value-hash against the untouched source proves the rewrite is
    content-neutral, the invariant that makes OPTIMIZE-style re-layout
    safe to schedule under a live table.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value", "props"
    )
    staging = process_staging_dir(
        f"zorder_{os.path.basename(os.path.normpath(sf_dir))}",
        "events_zordered",
    )
    zorder_by(events, ["user_id", "value"], n_files=8).write.mode(
        "overwrite"
    ).parquet(staging)
    return spark.read.parquet(staging)


@register(
    "layout_partition_overwrite_restate",
    # One-shot CORRECTED rollup: days < Jan 15 original, days >= Jan 15
    # with Ins+1000 applied at the source.  The Spark side reaches the
    # same table state by partition-granular replacement.
    oracle="""
    WITH traffic AS (
        SELECT 'S' || CAST(user_id % 5 AS VARCHAR) AS SiteCode,
               event_type AS Location,
               strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S'), '%Y-%m-%dT%H:%M:%S')
                   AS PeriodEnding,
               CAST(FLOOR(value) AS BIGINT)
                 + CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:01'
                        THEN 1000 ELSE 0 END AS Ins
        FROM events
    )
    SELECT SiteCode, Location,
           CAST(date_trunc('day', PeriodEnding - INTERVAL 1 SECOND)
                + INTERVAL 1 DAY AS DATE) AS day,
           CAST(SUM(Ins) AS BIGINT) AS Ins
    FROM traffic
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def layout_partition_overwrite_restate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nightly restatement WITHOUT MERGE: the daily rollup lands
    partitioned by day; a correction re-runs only the affected days and
    replaces exactly those partitions via **dynamic partition overwrite**
    (`partitionOverwriteMode=dynamic` write option).  Untouched days'
    files are never rewritten — the INSERT OVERWRITE idiom every
    warehouse uses when corrections arrive partition-aligned, and the
    cheap alternative to row-level MERGE (`traffic_merge_upsert`) when
    they do.

    Scale: write amplification is O(changed partitions), not O(table);
    the partition column is the natural date key, so partition pruning
    serves both the restatement write and every downstream day-ranged
    read.  Final state is hash-checked against the one-shot corrected
    rollup.
    """
    from ..plans.traffic import normalize_traffic, rollup_traffic
    from ..plans.traffic_queries import traffic_raw_from_events

    t = normalize_traffic(
        traffic_raw_from_events(load_table(spark, sf_dir, "events"))
    )

    def daily(df: DataFrame) -> DataFrame:
        return (
            rollup_traffic(df, grain="day")
            .select(
                "SiteCode",
                "Location",
                F.col("PeriodEnding").cast("date").alias("day"),
                "Ins",
            )
        )

    target = process_staging_dir(f"part_overwrite_{uuid.uuid4().hex[:8]}")
    # initial nightly load: full history, partitioned by day
    daily(t).write.partitionBy("day").mode("overwrite").parquet(target)
    # correction arrives for Jan 15 onward: restate ONLY those partitions
    corrected = t.filter(
        F.col("PeriodEnding") >= F.lit("2024-01-15 00:00:01").cast("timestamp")
    ).withColumn("Ins", F.col("Ins") + 1000)
    daily(corrected).write.partitionBy("day").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(target)
    return (
        spark.read.parquet(target)
        .select("SiteCode", "Location", "day", "Ins")
        .orderBy("SiteCode", "Location", "day")
    )


# ---------------------------------------------------------------------------
# zone-map data skipping
# ---------------------------------------------------------------------------

#: Zone-mapped layout: range-cluster the fact table into this many files.
ZONEMAP_FILES = 16
#: The probe window the registered query answers.
ZONEMAP_LO, ZONEMAP_HI = "2024-01-05 00:00:00", "2024-01-07 00:00:00"


def zonemap_build(spark: SparkSession, df: DataFrame, path: str, col: str) -> list:
    """Range-cluster ``df`` by ``col`` into :data:`ZONEMAP_FILES` files and
    return the zone map: one (file, min, max) row per data file.

    ``repartitionByRange`` gives each file a disjoint ``col`` interval, so
    the zones actually discriminate (a hash layout would give every file
    the full range and the map would prune nothing — the same reason
    Z-order exists for multi-column skipping).  The index build here scans
    the data once (``input_file_name`` group-by); a production tier reads
    parquet footer statistics instead, but the CONTRACT — O(files)
    metadata rows, probe prunes by interval intersection — is identical,
    and O(files) is what makes the driver-side collect bounded."""
    df.repartitionByRange(ZONEMAP_FILES, F.col(col)).write.mode(
        "overwrite"
    ).parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min(col).alias("zmin"), F.max(col).alias("zmax"))
        .collect()
    )


def zonemap_probe(
    spark: SparkSession, zonemap: list, lo, hi, schema
) -> tuple[DataFrame, int]:
    """Read ONLY the files whose [zmin, zmax] intersects [lo, hi); the
    residual filter still applies inside surviving files.  Returns the
    pruned DataFrame and the number of files actually read.

    ``schema`` is a StructType (pass the staged DataFrame's ``.schema``
    so the probe read can never drift from the layout's actual types —
    e.g. the session's TIMESTAMP-vs-TIMESTAMP_NTZ convention) or a DDL
    string."""
    keep = [r["file"] for r in zonemap if r["zmax"] >= lo and r["zmin"] < hi]
    if not keep:
        return spark.createDataFrame([], schema), 0
    return spark.read.schema(schema).parquet(*keep), len(keep)


@register(
    "layout_zonemap_skip",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE ts >= TIMESTAMP '{ZONEMAP_LO}' AND ts < TIMESTAMP '{ZONEMAP_HI}'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def layout_zonemap_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style data skipping on engine primitives: range-cluster
    events by ``ts``, build an O(files) zone map (min/max per file), then
    answer a 2-day window query by reading ONLY the files whose zone
    intersects the window — the oracle recomputes over the full table, so
    a zone map that prunes a file it shouldn't (or mis-bounds one) is a
    hash mismatch, not a silent wrong answer.  The pytest additionally
    asserts the probe read strictly fewer files than the layout holds.

    At 100 TB the zone map IS the difference between a scan and a seek:
    a day-window query over a year of range-clustered data touches ~1/180
    of the files, and the index is O(files) metadata a driver holds
    trivially (Iceberg manifests / Delta file stats are this exact
    structure)."""
    import datetime as dt

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    path = process_staging_dir(
        f"zonemap_{os.path.basename(os.path.normpath(sf_dir))}", "events_ranged"
    )
    zm = zonemap_build(spark, events, path, "ts")
    lo = dt.datetime.fromisoformat(ZONEMAP_LO)
    hi = dt.datetime.fromisoformat(ZONEMAP_HI)
    pruned, _n = zonemap_probe(spark, zm, lo, hi, events.schema)
    return (
        pruned.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# per-file Bloom index: point-lookup file skipping WITHOUT clustering
# ---------------------------------------------------------------------------

#: The point-lookup key the registered query probes.
BLOOM_SKIP_USER = 7


def bloom_file_index_build(
    spark: SparkSession, path: str, key_col: str, bits_per_key: int = 64
) -> tuple[DataFrame, int]:
    """Per-FILE Bloom bitsets over ``key_col`` — the Parquet
    column-bloom / Delta file-stats idea as an explicit index table.
    Zone maps (min/max) only skip when the layout CLUSTERS the column;
    a Bloom per file skips point lookups on ANY layout, because
    membership, not range, is the question.  One scan builds
    ``(file, word_idx, bits)`` rows; index size is O(files x keys/file /
    64) longs."""
    df = spark.read.parquet(path)
    n_per_file = max(
        1,
        df.count() // max(1, len([
            n for _r, _d, ns in os.walk(path) for n in ns
            if n.endswith(".parquet")
        ])),
    )
    m = 1
    while m < n_per_file * bits_per_key:
        m *= 2
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(m))
    index = (
        df.select(F.input_file_name().alias("file"), bucket.alias("b"))
        .groupBy("file", F.expr("b div 64").alias("word_idx"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(b % 64 AS INT)))").alias("bits"))
    )
    return index, m


def bloom_file_probe(
    spark: SparkSession, index: DataFrame, m: int, key_col: str, value
) -> tuple[list[str], int]:
    """Files that MAY contain ``value`` (definite misses skipped).
    Returns (candidate files, total indexed files).  The probe value's
    bucket is computed with the same engine expression as the build, so
    hashes can never drift."""
    probe = spark.createDataFrame([(value,)], f"{key_col} long").select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(m)).alias("b")
    )
    cand = (
        index.join(
            F.broadcast(probe.withColumn("word_idx", F.expr("b div 64"))),
            "word_idx",
        )
        .filter(F.expr("bits & shiftleft(1L, CAST(b % 64 AS INT))") != 0)
        .select("file")
        .distinct()
    )
    total = index.select("file").distinct().count()
    return [r["file"] for r in cand.collect()], total


@register(
    "layout_bloom_file_skip",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE user_id = {BLOOM_SKIP_USER}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def layout_bloom_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup data skipping on an UNCLUSTERED layout: events land
    hash-distributed across 16 files (a zone map on user_id would prune
    nothing — every file spans the full id range), a per-file Bloom
    index is built, and one user's rows are answered by reading ONLY the
    files whose Bloom may contain the key.  The oracle recomputes over
    the full table, so a file wrongly skipped is a hash mismatch; the
    pytest pins that strictly fewer files than the layout holds were
    read.

    At 100 TB this is the needle-lookup tier: min/max zones cover range
    scans on the cluster key, per-file Blooms cover equality probes on
    everything else (Parquet's own column bloom filters / Iceberg's
    value-count metrics are this structure in the footer)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    path = process_staging_dir(
        f"bloomskip_{os.path.basename(os.path.normpath(sf_dir))}",
        "events_hashed",
    )
    events.repartition(16, F.col("event_id")).write.mode(
        "overwrite"
    ).parquet(path)
    index, m = bloom_file_index_build(spark, path, "user_id")
    index = index.localCheckpoint(eager=True)
    files, _total = bloom_file_probe(
        spark, index, m, "user_id", BLOOM_SKIP_USER
    )
    if not files:
        return (
            events.filter(F.lit(False))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                    "sum_cents"
                ),
            )
        )
    return (
        spark.read.schema(events.schema).parquet(*files)
        .filter(F.col("user_id") == BLOOM_SKIP_USER)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
        )
        .orderBy("event_type")
    )


def bloom_file_index_append(
    spark: SparkSession,
    path: str,
    key_col: str,
    m: int,
    index: DataFrame,
    new_files: list[str],
) -> DataFrame:
    """O(delta) maintenance for the per-file Bloom index: build bitset
    rows for ONLY the newly-landed files and append them to the existing
    index.  Per-file bitsets are independent (no cross-file state), so
    appending new files' rows yields bit-identical index content to a
    full rebuild at the same ``m`` — the property the append==rebuild
    pytest pins.  ``m`` is a build-time constant carried with the index
    (changing it is a rebuild, exactly like a Parquet footer bloom's
    NDV sizing)."""
    df = spark.read.parquet(*new_files)
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(m))
    delta = (
        df.select(F.input_file_name().alias("file"), bucket.alias("b"))
        .groupBy("file", F.expr("b div 64").alias("word_idx"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(b % 64 AS INT)))").alias("bits"))
    )
    return index.unionByName(delta)


@register(
    "layout_bloom_index_incremental",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events
    WHERE user_id = {BLOOM_SKIP_USER}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def layout_bloom_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance under ingest: 2/3 of the events land first (12
    hash-distributed files, Bloom index built), the remaining 1/3 lands
    later (4 more files), and the index absorbs the delta via
    :func:`bloom_file_index_append` — indexing cost O(new files), never
    a base rescan.  The probe then answers one user's rows from base AND
    delta files; the oracle covers the WHOLE table, so an unindexed (or
    wrongly skipped) delta file is a hash mismatch, not a quiet gap.
    This is the ingest-path discipline for every file-skipping index at
    100 TB: stats ride with the commit that adds the file (Delta/Iceberg
    add-file metrics), the index never sees a full-table pass again."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    path = process_staging_dir(
        f"bloominc_{os.path.basename(os.path.normpath(sf_dir))}",
        "events_two_loads",
    )
    base = events.filter(F.col("event_id") % 3 != 0)
    delta = events.filter(F.col("event_id") % 3 == 0)
    base.repartition(12, F.col("event_id")).write.mode("overwrite").parquet(path)
    index, m = bloom_file_index_build(spark, path, "user_id")
    index = index.localCheckpoint(eager=True)
    before = {
        n for _r, _d, ns in os.walk(path) for n in ns if n.endswith(".parquet")
    }
    delta.repartition(4, F.col("event_id")).write.mode("append").parquet(path)
    new_files = [
        os.path.join(r, n)
        for r, _d, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet") and n not in before
    ]
    index = bloom_file_index_append(
        spark, path, "user_id", m, index, new_files
    ).localCheckpoint(eager=True)
    files, total = bloom_file_probe(spark, index, m, "user_id", BLOOM_SKIP_USER)
    assert total == 16, total  # delta files are indexed
    sel = (
        spark.read.schema(events.schema).parquet(*files)
        if files
        else events.filter(F.lit(False))
    )
    return (
        sel.filter(F.col("user_id") == BLOOM_SKIP_USER)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Hilbert-curve clustering: Z-order's locality upgrade
# ---------------------------------------------------------------------------

#: Hilbert grid resolution per dimension.  8 bits -> a 256x256 cell grid,
#: 65 536 LUT rows — far finer than any realistic file count, and small
#: enough to broadcast (~1 MB).  Finer grids would switch to the iterative
#: bit-transform expression; the LUT keeps the hot path a single
#: broadcast-hash-join probe.
HILBERT_BITS = 8


def _hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Distance along the order-n Hilbert curve of cell (x, y) — the
    standard public-domain iterative conversion (rotate+flip per level)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:  # rotate quadrant
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_order_by(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int,
    bits: int = HILBERT_BITS,
) -> DataFrame:
    """Cluster ``df`` into ``n_files`` write tasks ordered along the
    HILBERT curve of two ``cols`` — same contract as :func:`zorder_by`,
    better locality: every one-step move along the Hilbert rank is one
    grid step in value space (no Z-curve seam jumps), so equal-size rank
    ranges cover tighter boxes and footer min/max stats prune harder on
    box predicates (measured against Z-order in tests/test_layout.py).

    Plan: one stats pass scales both columns to a ``2^bits`` grid
    (identical to the Z path), then the cell's curve rank comes from a
    BROADCAST joined lookup table computed once on the driver —
    O(4^bits) rows, value-deterministic, no UDF in the scan — and
    ``repartitionByRange`` over the rank gives the total file ordering
    without a global sort.  The LUT is the deliberate trade at 8-bit
    resolution; past ~12 bits/dim the iterative rotate/flip expression
    replaces it, same ordering."""
    if len(cols) != 2:
        raise ValueError("hilbert_order_by clusters exactly two columns")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).first()
    max_code = (1 << bits) - 1
    codes = []
    for c in cols:
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * max_code
        codes.append(
            F.least(F.greatest(scaled.cast("long"), F.lit(0)), F.lit(max_code))
        )
    cell = F.shiftleft(codes[0], bits).bitwiseOR(codes[1])
    n = 1 << bits
    spark = df.sparkSession
    lut = spark.createDataFrame(
        [((x << bits) | y, _hilbert_xy2d(n, x, y)) for x in range(n) for y in range(n)],
        "__cell long, __h long",
    )
    ranked = df.withColumn("__cell", cell).join(
        F.broadcast(lut), "__cell"
    )
    return (
        ranked.repartitionByRange(n_files, F.col("__h"))
        .sortWithinPartitions("__h")
        .drop("__cell", "__h")
    )


@register(
    "layout_hilbert",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value, props FROM events
    """,
)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert re-clustering preserves the relation exactly (oracle = the
    untouched source, same contract as ``layout_zorder``); the locality
    advantage over the Z-curve is pinned physically in
    tests/test_layout.py (box-probe file pruning at least matches
    Z-order on the same data and file count)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value", "props"
    )
    staging = process_staging_dir(
        f"hilbert_{os.path.basename(os.path.normpath(sf_dir))}",
        "events_hilbert",
    )
    hilbert_order_by(events, ["user_id", "value"], n_files=8).write.mode(
        "overwrite"
    ).parquet(staging)
    return spark.read.parquet(staging)
