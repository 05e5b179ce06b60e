"""SparkSession construction with the engine's standard configuration.

The reference runs in a single Node process (see /root/reference/script.js);
our execution substrate is Spark.  This module centralises the session
settings every entry point (tests, bench, driver contract) shares so plans
are reproducible: UTC session timezone (the reference dodges timezone issues
by shipping date strings into Oracle, script.js:191 — we pin UTC instead),
AQE on for runtime re-planning, Arrow enabled for the few Pandas-UDF
operators.
"""

from __future__ import annotations

import atexit
import os
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Shuffle-partition count: match available cores locally.

    On a real cluster this should be ~2-3x total executor cores (or left to
    AQE coalescing with a high initial value); in local mode matching the
    thread count avoids tiny-partition overhead at test scale.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def spread(df, *keys):
    """Hash-repartition ``df`` to ``sparkContext.defaultParallelism`` on
    ``keys`` — the engine's standard "parallelise per-row-heavy work off a
    few-files source" idiom (established at operators/dedup.py
    ``banded_signatures``; guide §2 applied engine-wide in the r11
    optimization round).

    Why: every fixture table is a single parquet file (one row group), so
    a scan is ONE input partition and every expression-heavy projection
    (hashing, shingling, codecs, vector math, Pandas UDFs) downstream of
    it runs on one core until the first exchange.  A narrow keyed
    repartition moves the columns once and buys full-cluster parallelism
    for everything after it.

    Scale posture: the partition count derives from the session's
    ``defaultParallelism`` — never a local constant; at 100 TB the input
    is already many splits, and this exchange either replaces a shuffle
    the plan needed anyway (pick ``keys`` = the downstream window/groupBy
    key so the partitioning is established once, guide §2.4) or is a
    narrow-payload balance shuffle.  Keyed hash partitioning (not
    round-robin) keeps the exchange deterministic under task retries and
    skips ``sortBeforeRepartition``'s local sort.
    """
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *keys
    )


def ensure_engine_confs(spark: SparkSession) -> None:
    """Apply the engine's required runtime confs to an EXISTING session.

    The driver contract (``__spark_entry__.entry(spark)``) hands us a
    session we didn't build.  Two settings are correctness-critical and
    runtime-settable, so they are (idempotently) enforced at the fixture
    chokepoint:

    * ``nanosAsLong`` — the fixture ``events.ts`` is parquet
      TIMESTAMP(NANOS); without this flag Spark 4 refuses the scan
      outright (PARQUET_TYPE_ILLEGAL).
    * UTC session timezone — the ns→µs epoch conversion and every
      ``date_format``/``to_timestamp`` on the derived traffic table are
      session-timezone-dependent; a non-UTC host would shift results
      relative to the (timezone-naive) DuckDB oracle.

    ``shuffle.partitions`` is tuned only if still at Spark's untouched
    default (200) — an explicit user setting wins.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Fixture timestamps are parquet TIMESTAMP(MICROS) with no timezone
    # annotation; Spark 4 infers those as TIMESTAMP_NTZ by default, which
    # breaks ``withWatermark`` (requires TIMESTAMP) and epoch casts.  Read
    # them as session-timezone (UTC) instants instead — identical wall-clock
    # values to what the (timezone-naive) DuckDB oracle sees.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))


def get_spark(app_name: str = "trafsys_data_transfer_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings chosen for the 100 TB posture even though tests run local:

    * ``spark.sql.adaptive.enabled`` — AQE: runtime shuffle-partition
      coalescing, skew-join splitting, dynamic join-strategy switch.
    * ``spark.sql.session.timeZone=UTC`` — deterministic timestamp
      semantics across driver/executors/oracle comparisons.
    * Arrow on — vectorised Pandas-UDF transfer for the operators that
      need Python (multimodal decode, embedding math fallback).
    """
    cpus = default_parallelism()
    # Local mode defaults to a 1g driver heap regardless of host RAM; with
    # 32 executor threads sharing it, any real shuffle spills or OOMs.  Xmx
    # is a cap, not a reservation — size it to the machine (override via
    # SPARK_GRAFT_DRIVER_MEMORY).  Must be set before the JVM launches.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "32g")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Legacy-fixture tolerance: an earlier fixture generation wrote
        # `events.ts` as parquet TIMESTAMP(NANOS), which Spark can only
        # read as a nanos long (converted in the loader).  Current
        # fixtures are TIMESTAMP(MICROS); the flag is harmless for them
        # and keeps old data readable.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Untagged parquet TIMESTAMP(MICROS) → LTZ (UTC), not NTZ: streaming
        # watermarks and epoch arithmetic require the instant type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # In local mode every slot is process-local, so the scheduler's
        # default 3 s locality wait can only ever add latency; on a busy
        # cluster, waiting seconds to save an intra-rack fetch is the wrong
        # trade for this engine's many-small-jobs mix.  (Not the cause of
        # the slow tiny staging writes — that was a list-backed
        # createDataFrame's 32 Python slices evaluated sequentially under
        # coalesce(1); see streaming/queries.py sentinel staging.)
        .config("spark.locality.wait", "0s")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    atexit.unregister(_stop_jvm)
    atexit.register(_stop_jvm)
    return spark


def _stop_jvm() -> None:
    """At interpreter exit, stop Spark and wait for the JVM to exit before
    Python does.  The JVM removes its temp entries (native-library copies,
    artifact and scratch dirs) in shutdown hooks; a parent that kills the
    process group once Python has exited would cut those hooks short and
    leave the entries in TMPDIR."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        pass
