"""The nightly run, Spark-first — the reference's ``run()`` end to end.

Mirrors the control flow of /root/reference/script.js:228-266 with Spark
primitives and the same failure semantics:

1. config check (T7, script.js:85-97)
2. resolve the incremental window from the run log (S7, script.js:29-61)
3. fetch the window from the source (S1, script.js:141-166)
4. normalize: bool→int, ISO→timestamp (T1/T2, script.js:160-163, 191)
5. :func:`load_batch`: in-batch dedupe + MERGE into the target keyed on
   the composite PK (S5, script.js:182-215).  The normalized, deduped
   batch is persisted, and ONE grouped action over it
   (``groupBy(PeriodDate)``) yields the row count, the touched
   partitions and the quality-gate counts (null PK, negative
   ``Ins``/``Outs``).  A violated gate raises
   :class:`~..operators.observe.QualityViolation` before the MERGE
   writes anything; an empty batch short-circuits (T5, script.js:183);
   otherwise the MERGE reads the cached batch and rewrites only the
   touched partitions.
6. append the run log row (S6, script.js:256) — strictly after the sink
   commit, so a failed run or a violated gate leaves the watermark
   untouched and the window is retried next run (script.js:258-265)

Scale posture: the target is partitioned by ``PeriodDate`` (day of
PeriodEnding) so the MERGE only reads+rewrites the partitions present in
the incoming batch; a one-day delta against a multi-year table touches one
partition regardless of total table size.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import dedupe_last_write, merge_upsert_parquet
from ..operators.observe import assert_traffic_quality, traffic_quality_counts
from ..schemas import TRAFFIC_PK
from .traffic import normalize_traffic
from .watermark import RunLog, resolve_window

PARTITION_COL = "PeriodDate"


def run_pipeline(
    spark: SparkSession,
    fetch_window,
    target_path: str,
    run_log_path: str,
    cli_from: str | None = None,
    cli_to: str | None = None,
    today: dt.date | None = None,
    tokens=None,
) -> dict:
    """Execute one incremental load.

    ``fetch_window(date_from, date_to) -> DataFrame[TRAFFIC_RAW_SCHEMA]`` is
    the source adapter (REST in production, fixture-derived in tests) —
    injected so the pipeline is testable without a network, mirroring how
    the reference isolates ``getTrafsysData`` (script.js:141-166).

    ``tokens`` (a ``TokenProvider``, optional) closes the reference's
    cross-run token loop (script.js:37-52): before fetching, the provider
    is seeded from the latest run-log row's ``AccessToken`` /
    ``AccessTokenExpiresAt`` (reused only if still ≥5 min from expiry),
    and on success the provider's current token is written into the new
    row — one auth POST per token lifetime, not per nightly process.

    Returns the run-info dict (written to the log only on success).  A
    batch that fails a quality gate raises ``QualityViolation`` with the
    target and the run log unchanged.
    """
    log = RunLog(spark, run_log_path)
    latest = log.latest()
    if tokens is not None and latest is not None:
        tokens.seed(latest["AccessToken"], latest["AccessTokenExpiresAt"])
    date_from, date_to = resolve_window(latest, cli_from, cli_to, today)

    n_records = load_batch(spark, fetch_window(date_from, date_to), target_path)

    # The run is logged even for an empty batch, advancing the watermark
    # exactly as the reference does (it logs runInfo regardless of batch
    # size, script.js:256).
    run_info = {"FromDate": date_from, "ToDate": date_to, "Records": n_records}
    if tokens is not None:
        # Persist the token with the watermark (script.js:256 logs the whole
        # runInfo, token included) so the NEXT process can skip the auth POST.
        run_info["AccessToken"] = tokens.cached_token
        run_info["AccessTokenExpiresAt"] = tokens.cached_expires_at
    log.append(run_info)
    return run_info


def load_batch(spark: SparkSession, raw: DataFrame, target_path: str) -> int:
    """Normalize, dedupe and MERGE one raw traffic batch into the
    ``PeriodDate``-partitioned target; returns the number of rows merged.

    The batch is persisted once and touched by one grouped action, which
    gives the row count, the touched partitions and the quality-gate
    counts together.  A violated gate raises ``QualityViolation`` before
    anything is written (a null ``PeriodEnding`` would also land in a null
    partition that the touched-partition filter cannot match); an empty
    batch writes nothing.  The nightly run and the streaming MERGE sink
    both load through here."""
    batch = (
        dedupe_last_write(
            normalize_traffic(raw), keys=TRAFFIC_PK, order_by=["Ins", "Outs", "IsInternal"]
        )
        .withColumn(PARTITION_COL, F.col("PeriodEnding").cast("date"))
        .persist()
    )
    try:
        groups = (
            batch.groupBy(PARTITION_COL)
            .agg(F.count(F.lit(1)).alias("n_rows"), *traffic_quality_counts())
            .collect()
        )
        assert_traffic_quality(
            {m: sum(g[m] for g in groups) for m in ("n_null_pk", "n_negative")}
        )
        n_records = sum(g["n_rows"] for g in groups)
        if n_records:
            merge_upsert_parquet(
                spark,
                target_path,
                batch,
                keys=TRAFFIC_PK,
                partition_col=PARTITION_COL,
                touched=[g[PARTITION_COL] for g in groups],
            )
    finally:
        batch.unpersist()
    return n_records


def read_target(spark: SparkSession, target_path: str) -> DataFrame:
    return spark.read.parquet(target_path).drop(PARTITION_COL)
