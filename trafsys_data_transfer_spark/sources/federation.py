"""Multi-format source federation: one logical table from parquet + CSV
+ JSON-lines slices, normalized to a single typed schema.

Real estates are never one format: the warehouse lands parquet, partners
drop CSV, app logs arrive as JSON lines.  The reference reads exactly one
REST/JSON shape (script.js:88-131); this module is that surface widened
to the three bulk formats with per-format normalization — explicit
schemas (never inferSchema, which scans twice and guesses), RFC-4180
quoting for CSV text columns, ISO-8601 timestamp round-trip — so the
union is byte-exact against the original typed relation.

Scale: each format reads through its own pushdown-capable scan (parquet
prunes columns/row groups; CSV/JSON prune partitions by file), and the
union is a zero-shuffle concatenation — Catalyst plans each leg
independently.  The 100 TB posture is "land everything as parquet, keep
CSV/JSON at the edge"; this operator is the edge→lake normalizer.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import process_staging_dir
from ..registry import register
from .fixtures import load_table

#: Timestamp wire format for the text legs — microsecond precision (the
#: fixture's timestamps carry sub-second digits; truncation breaks the hash).
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

#: RFC-4180: quote with '"', escape an embedded quote by doubling it —
#: pinned explicitly on write AND read so text columns containing commas
#: and quotes (the props JSON strings) round-trip exactly.
_CSV_OPTS = {"header": "true", "quote": '"', "escape": '"'}

_EVENTS_TEXT_SCHEMA = (
    "event_id long, ts string, user_id long, event_type string, "
    "value double, props string"
)


def stage_federated_events(spark: SparkSession, sf_dir: str) -> str:
    """Deterministically slice the events table three ways by format:
    event_id % 3 == 0 → parquet, == 1 → CSV, == 2 → JSON lines.
    Returns the staging root.  Timestamps serialize as ISO-8601 text in
    the CSV/JSON legs (the parquet leg keeps the native type)."""
    events = load_table(spark, sf_dir, "events")
    root = process_staging_dir(f"fed_{uuid.uuid4().hex[:8]}")
    m = F.col("event_id") % 3
    # Pin the canonical column order before writing: the CSV leg's read
    # schema is positional, and upstream tables are not obligated to share
    # the fixture's physical order (the 10x scale replica doesn't).
    events = events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    textified = events.withColumn("ts", F.date_format("ts", _TS_FMT))
    events.filter(m == 0).write.parquet(os.path.join(root, "pq"))
    csv_writer = textified.filter(m == 1).write
    for k, v in _CSV_OPTS.items():
        csv_writer = csv_writer.option(k, v)
    csv_writer.csv(os.path.join(root, "csv"))
    textified.filter(m == 2).write.json(os.path.join(root, "json"))
    return root


def read_federated_events(spark: SparkSession, root: str) -> DataFrame:
    """The three staged legs as ONE typed relation, each row tagged with
    its source format.  Explicit schemas on the text legs; ISO timestamps
    parsed back to the native type."""

    def normalize(df: DataFrame, fmt: str) -> DataFrame:
        return df.select(
            "event_id",
            F.to_timestamp("ts", _TS_FMT).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
            F.lit(fmt).alias("src_format"),
        )

    pq = (
        spark.read.parquet(os.path.join(root, "pq"))
        .withColumn("src_format", F.lit("parquet"))
        .select(
            "event_id", "ts", "user_id", "event_type", "value", "props",
            "src_format",
        )
    )
    csv_reader = spark.read.schema(_EVENTS_TEXT_SCHEMA)
    for k, v in _CSV_OPTS.items():
        csv_reader = csv_reader.option(k, v)
    csv = normalize(csv_reader.csv(os.path.join(root, "csv")), "csv")
    js = normalize(
        spark.read.schema(_EVENTS_TEXT_SCHEMA).json(
            os.path.join(root, "json")
        ),
        "json",
    )
    return pq.unionByName(csv).unionByName(js)


@register(
    "events_federated_union",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props,
           CASE event_id % 3 WHEN 0 THEN 'parquet'
                             WHEN 1 THEN 'csv'
                             ELSE 'json' END AS src_format
    FROM events
    ORDER BY event_id
    """,
)
def events_federated_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-federation round trip, hash-checked at FULL fidelity: the
    events table sliced into parquet / CSV / JSON-lines drops, read back
    through three format-specific normalizing scans, and unioned — every
    column (timestamps through their ISO text round-trip, doubles through
    shortest-round-trip text, props through RFC-4180 quoting) must equal
    the original typed relation row-for-row.  Any quoting, precision, or
    timezone slip in a leg breaks the hash."""
    root = stage_federated_events(spark, sf_dir)
    return read_federated_events(spark, root).orderBy("event_id")


@register(
    "trafsys_rest_source_window",
    # The offline transport is deterministic BY CONSTRUCTION: one record
    # per fetched window-start day (S1/door/5-in/2-out at 10:00), and a
    # 20-day window at the default 7-day chunking plans exactly three
    # partitions — so the whole REST round trip (partition planning,
    # executor-side OAuth, bearer-gated GETs, JSON decode, T1/T2
    # normalization) is strict-hash-checkable against literal SQL.
    oracle="""
    SELECT 'S1' AS SiteCode,
           'door' AS Location,
           CAST(0 AS INT) AS IsInternal,
           d AS PeriodEnding,
           CAST(5 AS BIGINT) AS Ins,
           CAST(2 AS BIGINT) AS Outs
    FROM (VALUES (TIMESTAMP '2024-01-01 10:00:00'),
                 (TIMESTAMP '2024-01-08 10:00:00'),
                 (TIMESTAMP '2024-01-15 10:00:00')) AS t(d)
    """,
)
def trafsys_rest_source_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REST API as a Spark DataSource, surfaced as a registry query
    (VERDICT r07 task 6 — previously pytest-only): read a 20-day window
    through ``spark.read.format("trafsys_offline")`` — the REAL
    ``TrafsysDataSource`` partition-planning/OAuth/retry machinery wired
    to the packaged deterministic transport (sources/offline.py, the
    embedded-mock-broker pattern) — then apply the reference's T1/T2
    normalization.  ``sf_dir`` is unused: the source IS the fixture."""
    from ..plans.traffic import normalize_traffic
    from .offline import OfflineTrafsysSource

    spark.dataSource.register(OfflineTrafsysSource)
    raw = (
        spark.read.format("trafsys_offline")
        .option("url", "https://trafsys.invalid/")
        .option("user", "offline")
        .option("password", "offline")
        .option("date_from", "2024-01-01")
        .option("date_to", "2024-01-20")
        .load()
    )
    return normalize_traffic(raw).orderBy("PeriodEnding")
