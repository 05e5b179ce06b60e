"""Run log + incremental-load watermark (S6/S7).

The reference persists one document per successful run in an embedded NeDB
store (/root/reference/script.js:10-11, insert at script.js:256) and seeds
the next window's ``FromDate`` with the latest run's ``ToDate``
(script.js:54); a failed run writes nothing, so its window is retried
(script.js:258-265).  Our equivalent is a tiny append-only parquet table —
the ``orderBy(desc(createdAt)).limit(1)`` read-back plans as
``TakeOrderedAndProject`` (top-1 without a full sort), conceptually Spark
Structured Streaming's checkpoint/offset tracking done in batch.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import path_exists
from ..schemas import RUN_LOG_SCHEMA


class RunLog:
    """Append-only run-log table with top-1 watermark read-back."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        # Hadoop FileSystem probe: the log lives wherever the target table
        # does (HDFS/object storage in production), not on the driver disk.
        return path_exists(self.spark, self.path)

    def latest(self) -> Row | None:
        """S7: most recent run (sort createdAt desc, limit 1 —
        script.js:35)."""
        if not self.exists():
            return None
        rows = (
            self.spark.read.schema(RUN_LOG_SCHEMA)
            .parquet(self.path)
            .orderBy(F.desc("createdAt"))
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def append(self, run_info: dict[str, Any]) -> None:
        """S6: one row per successful run (script.js:256).  Called strictly
        after the sink commit — the write-then-log ordering is what keeps a
        failed run's window retryable."""
        info = dict(run_info)
        info.setdefault("createdAt", dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        # Literals over a one-partition range: the row is made on the JVM
        # and needs no Python worker, which a list-backed createDataFrame
        # starts for every write.  Timestamps go in as the schema's
        # internal micros, so a naive datetime stores the value
        # createDataFrame would store.
        cols = []
        for f in RUN_LOG_SCHEMA.fields:
            v = f.dataType.toInternal(info.get(f.name))
            if isinstance(f.dataType, T.TimestampType) and v is not None:
                col = F.timestamp_micros(F.lit(v))
            else:
                col = F.lit(v).cast(f.dataType)
            cols.append(col.alias(f.name))
        row = self.spark.range(0, 1, 1, 1).select(*cols)
        row.write.mode("append").parquet(self.path)


def resolve_window(
    latest_run: Row | None,
    cli_from: str | None = None,
    cli_to: str | None = None,
    today: dt.date | None = None,
) -> tuple[str, str]:
    """Window-bound precedence, exactly the reference's
    (script.js:53-59): explicit args > previous run's ToDate > yesterday.

    The from-date deliberately *equals* the previous ToDate, so the boundary
    day is fetched twice — safe because the MERGE sink is idempotent
    (at-least-once + idempotent = effectively-once, SURVEY.md §2.8).
    No local validation beyond format: the reference lets the API reject
    reversed/invalid windows (README.md:7).
    """
    today = today or dt.date.today()
    yesterday = (today - dt.timedelta(days=1)).isoformat()
    date_from = cli_from or (
        latest_run["ToDate"] if latest_run is not None and latest_run["ToDate"] else yesterday
    )
    date_to = cli_to or yesterday
    return date_from, date_to


def coverage_gaps(windows) -> "DataFrame":  # noqa: F821 - DataFrame via import below
    """Backfill planner: given covered ``(FromDate, ToDate)`` windows
    (half-open, possibly overlapping, any order), return the UNCOVERED
    gaps between the overall span's bounds — the windows a recovery run
    must fetch.

    Interval-merge via gaps-and-islands: sort by start, track the running
    max of ends; a window whose start exceeds every previous end opens a
    new island, and the space between is a gap.  The global (unpartition-
    ed) window is deliberate: a run log is O(runs) rows — thousands, not
    billions — exactly like the top-1 watermark read-back above.  The
    reference has no recovery planner at all: a missed cron night is
    silently absorbed into the next window only if nothing ran in
    between (script.js:54); explicit gap detection is what makes missed
    windows VISIBLE instead of lucky."""
    from pyspark.sql import Window as W

    w = W.orderBy("FromDate", "ToDate").rowsBetween(
        W.unboundedPreceding, -1
    )
    marked = windows.select(
        "FromDate",
        "ToDate",
        F.max("ToDate").over(w).alias("covered_until"),
    )
    return (
        marked.filter(
            F.col("covered_until").isNotNull()
            & (F.col("FromDate") > F.col("covered_until"))
        )
        .select(
            F.col("covered_until").alias("gap_start"),
            F.col("FromDate").alias("gap_end"),
        )
        .orderBy("gap_start")
    )
