"""Structured Streaming realisation of the reference's implicit streaming
semantics (SURVEY.md §2.8).

The reference is a scheduled micro-batch system with hand-rolled streaming
machinery: a persisted watermark (previous run's ``ToDate`` becomes the next
``FromDate``, /root/reference/script.js:54), at-least-once delivery made
effectively-once by an idempotent keyed upsert (script.js:195-200), and
late/corrected data handled by re-running old windows through the same
upsert.  Structured Streaming gives each of those a first-class counterpart:

* offset tracking / watermark table  → checkpointed file-source offsets
* nightly re-run loop                → ``Trigger.AvailableNow`` micro-batches
* PL/SQL upsert sink                 → ``foreachBatch`` → partitioned MERGE
* hour-ending buckets                → ``window(PeriodEnding, "1 hour")``
* late-data tolerance                → ``withWatermark`` bounded lateness

Scale posture: the stream never shuffles before the windowed aggregation;
state is bounded by (sites × locations × open windows), and the MERGE sink
rewrites only the date partitions present in each micro-batch.
"""

from __future__ import annotations

import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import process_staging_dir
from ..plans.pipeline import load_batch
from ..plans.traffic import normalize_traffic
from ..schemas import TRAFFIC_RAW_SCHEMA


#: State-store partition count for the engine's bounded stream drains.
#: Stateful operators pin their partitioning at first start and do NOT get
#: AQE coalescing — every micro-batch pays one state-store task per
#: partition forever.  Size it to expected state volume, not to cores: the
#: correctness-gate drains here hold fixture-scale state, where 8 beats 32
#: by ~2.5× wall-clock.  A production stream sizes this to its own volume
#: BEFORE first start (it is frozen into the checkpoint).  The env
#: override is the sizing lever (used by tools/scale_probe.py sweeps and
#: by any deployment that wants cluster-scale state partitioning without
#: a code change).
STREAM_SHUFFLE_PARTITIONS = int(
    os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
)

#: Rule-of-thumb ceiling on distinct state keys per state-store partition
#: before drain wall-clock becomes partition-bound.  Calibrated from the
#: SCALE.md 11th/12th sweeps: at 10x fixture volume (~75k keys) the
#: default 8 partitions (~9.4k keys each) ran 24.7 s for streaming_scd2
#: while 32 partitions (~2.3k keys each) ran 15.7 s — and the partition
#: count FREEZES into the checkpoint at first start, so an undersized
#: default is an operational trap, not a tuning knob you can turn later.
STATE_KEYS_PER_PARTITION_TARGET = 4_000


def warn_if_state_partitions_undersized(est_keys: int, n_partitions: int) -> bool:
    """Loud pre-start guidance (VERDICT r06 task 4): if the estimated
    keyed-state cardinality overloads the configured state-partition
    count, emit a UserWarning naming the frozen-checkpoint trap and the
    recommended count.  Returns True when the warning fired.

    Call BEFORE a stateful query's first ``start()`` — afterwards the
    partitioning is pinned in the checkpoint and only a new checkpoint
    (full state rebuild) can change it."""
    import math
    import warnings

    if est_keys <= n_partitions * STATE_KEYS_PER_PARTITION_TARGET:
        return False
    rec = 2 ** math.ceil(
        math.log2(max(1, est_keys / STATE_KEYS_PER_PARTITION_TARGET))
    )
    warnings.warn(
        f"streaming state partitions undersized: ~{est_keys} state keys "
        f"across {n_partitions} partitions "
        f"(~{est_keys // max(1, n_partitions)} keys/partition, target "
        f"<= {STATE_KEYS_PER_PARTITION_TARGET}). The count FREEZES into "
        f"the checkpoint at first start; set "
        f"SPARK_GRAFT_STREAM_PARTITIONS={rec} (or pass n={rec}) BEFORE "
        f"starting, or plan a checkpoint rebuild to resize later.",
        UserWarning,
        stacklevel=3,
    )
    return True


@contextmanager
def _stream_partitions(
    spark: SparkSession,
    n: int = STREAM_SHUFFLE_PARTITIONS,
    est_keys: int | None = None,
):
    """Temporarily set shuffle partitions for a streaming query's first
    start; restored afterwards so batch plans keep the session default.
    Pass ``est_keys`` (estimated distinct state keys) to get the
    undersizing warning before the partitioning is frozen."""
    if est_keys is not None:
        warn_if_state_partitions_undersized(est_keys, n)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    foreach_batch=None,
    checkpoint: str | None = None,
    partitions: int = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame | None:
    """Run ``stream_df`` to completion with ``Trigger.AvailableNow``: every
    input available at start is processed in one or more micro-batches,
    then the query stops.  This is the one place a streaming query of the
    engine is started and awaited.

    Without ``foreach_batch`` the rows go to a memory sink under a fresh
    query name and the drained table is returned.  With it, each
    micro-batch is handed to ``foreach_batch(batch_df, batch_id)`` under
    ``checkpoint`` (the offset log that makes a re-run pick up only new
    input) and ``None`` is returned.  Shuffle partitions are pinned to
    ``partitions`` for the query's first start (see
    :data:`STREAM_SHUFFLE_PARTITIONS`)."""
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.outputMode(output_mode).trigger(
        availableNow=True
    )
    if foreach_batch is None:
        name = f"drain_{uuid.uuid4().hex}"
        writer = writer.format("memory").queryName(name)
    else:
        writer = writer.foreachBatch(foreach_batch).option(
            "checkpointLocation", checkpoint
        )
    with _stream_partitions(spark, n=partitions):
        writer.start().awaitTermination()
    return spark.table(name) if foreach_batch is None else None


def stage_dir(name: str) -> str:
    """A fresh, empty directory for one drain's staging input, sink,
    store or checkpoint.  It lives under the process staging dir
    (:func:`fsutil.process_staging_dir`), so it is removed when the
    process exits."""
    path = process_staging_dir("stream", f"{name}_{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    return path


def stage_day_slices(df: DataFrame, ts_col: str, staging: str):
    """Stage ``df`` into ``staging`` as three day-sliced drops: the
    ``[d0, d1]`` day span of ``ts_col`` is cut into thirds (the last
    slice takes the remainder), all slices are written by ONE partitioned
    job (three filter+coalesce jobs measured 16 s of a 20 s drain), and
    slice ``i``'s files are copied in as
    ``slice-{i:03d}-{j:03d}.parquet`` with mtime ``1_700_000_000 + 10·i``.
    The file source orders files by mtime, so ``maxFilesPerTrigger``
    turns the slices into consecutive micro-batches in day order.

    Returns ``(d0, d1, step, staged)``: the day span, the slice width in
    days, and the indices of the slices that received files."""
    d0, d1 = df.agg(
        F.min(F.col(ts_col).cast("date")), F.max(F.col(ts_col).cast("date"))
    ).first()
    step = max(1, ((d1 - d0).days + 1) // 3)
    parts = stage_dir("slices")
    (
        df.withColumn(
            "slice",
            F.least(
                F.floor(
                    F.datediff(F.col(ts_col).cast("date"), F.lit(d0)) / step
                ),
                F.lit(2),
            ),
        )
        .repartition("slice")
        .write.partitionBy("slice")
        .mode("overwrite")
        .parquet(parts)
    )
    staged = []
    for i in range(3):
        sdir = os.path.join(parts, f"slice={i}")
        if not os.path.isdir(sdir):
            continue
        staged.append(i)
        base = 1_700_000_000 + i * 10
        for j, f in enumerate(sorted(os.listdir(sdir))):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                dst = os.path.join(staging, f"slice-{i:03d}-{j:03d}.parquet")
                shutil.copyfile(os.path.join(sdir, f), dst)
                os.utime(dst, (base, base))
    return d0, d1, step, staged


def batch_id_sink(store: str, build):
    """Idempotent ``foreachBatch`` sink: micro-batch ``N`` writes
    ``build(batch_df)`` over ``store/batch_id=N``.  ``foreachBatch`` is
    at-least-once: a crash between the sink write and the offset commit
    replays the batch, and a plain append would then store its rows
    twice.  Keying the write by batch id makes the replay overwrite its
    own output instead (§2.8d).  On read-back the ``batch_id=N``
    directories surface as a partition column.

    There is no emptiness probe.  An AvailableNow drain without a
    watermark hands ``foreachBatch`` no empty input batch, an empty
    output writes a ``batch_id=N`` directory that reads back as zero
    rows, and a probe on a stateful operator's output runs the operator
    a second time (on a 4-core host it took streaming_scd2 from 6 s to
    10 s; persisting the output for the probe cost 0.5-0.9 s per
    partials drain)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        build(batch_df).write.mode("overwrite").parquet(
            os.path.join(store, f"batch_id={batch_id}")
        )

    return sink


def read_traffic_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of landed TrafSys payloads (one JSON record per
    line), schema-enforced exactly like the batch path (§1.3): the producer
    is trusted, the reader declares the shape."""
    return spark.readStream.schema(TRAFFIC_RAW_SCHEMA).json(source_dir)


def hourly_rollup_stream(
    raw_stream: DataFrame, lateness: str = "2 hours"
) -> DataFrame:
    """Streaming hour-ending rollup: normalize → bounded-lateness watermark
    → tumbling 1-hour window sums.  Output rows carry ``PeriodEnding`` =
    window end, matching the API's hour-ending convention
    (/root/reference/script.js:131).

    Windows are ``(start, end]`` like the batch rollup: ``F.window`` is
    ``[start, end)``, so the event time is shifted back one second before
    windowing — an exactly-on-the-hour record (the shape every real TrafSys
    row has) stays in the bucket it *ends* instead of opening the next one.
    The watermark rides the shifted column; a constant offset preserves all
    lateness semantics."""
    normalized = normalize_traffic(raw_stream).withColumn(
        "BucketTs", F.col("PeriodEnding") - F.expr("INTERVAL 1 SECOND")
    )
    return (
        normalized.withWatermark("BucketTs", lateness)
        .groupBy(
            "SiteCode",
            "Location",
            F.window("BucketTs", "1 hour").alias("w"),
        )
        .agg(F.sum("Ins").alias("Ins"), F.sum("Outs").alias("Outs"))
        .select(
            "SiteCode",
            "Location",
            F.col("w.end").alias("PeriodEnding"),
            "Ins",
            "Outs",
        )
    )


def run_stream_merge(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """Drain ANY raw-traffic stream through the nightly MERGE sink: one
    ``AvailableNow`` pass, each micro-batch loaded by the nightly run's
    :func:`~..plans.pipeline.load_batch` — normalized, deduped
    last-write-wins, quality-gated and MERGEd into the partitioned parquet
    target.  A violated gate fails the query before its offsets commit,
    so the batch is retried by the next run, as a nightly window is.

    Source-agnostic on purpose — the file-landing stream
    (:func:`run_incremental_merge`) and the registered ``trafsys``
    streaming DataSource (`sources/datasource.py`, where the checkpoint
    offset is the API watermark) both terminate here, so "fetch → upsert"
    is the same audited sink code whichever source feeds it.
    """

    drain(
        stream,
        foreach_batch=lambda batch, _: load_batch(batch.sparkSession, batch, target_path),
        checkpoint=checkpoint_dir,
    )


def run_incremental_merge(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """One ``AvailableNow`` pass: process every file not yet recorded in the
    checkpoint, MERGE each micro-batch into the partitioned parquet target.

    This is the reference's nightly loop with its two pieces of hand-rolled
    state replaced: the NeDB watermark (script.js:35, 54) becomes the
    checkpointed source offset log, and the PL/SQL upsert (script.js:182-215)
    becomes the partition-pruned MERGE.  Re-delivered or corrected rows are
    collapsed by ``dedupe_last_write`` inside the batch and last-write-wins
    MERGE across batches — at-least-once + idempotent sink = effectively
    once, the exact invariant the reference relies on (§2.8).
    """
    run_stream_merge(read_traffic_stream(spark, source_dir), target_path, checkpoint_dir)
