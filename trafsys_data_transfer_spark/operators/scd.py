"""Slowly-changing-dimension (SCD Type-2) history build.

Warehouse parity operator: compress an event-grain mutation stream into
attribute validity intervals — one row per (key, attribute-run) with
``valid_from`` / ``valid_to`` / ``is_current`` / ``version``.  This is the
dimension-table shape every Kimball-style warehouse maintains, and the
reference's upsert-only sink (script.js:184-214 keeps latest state, no
history) is exactly what SCD2 generalises: Type-1 = our MERGE operator,
Type-2 = this one.

Semantics: consecutive-run change detection.  A row opens a new version
when its attribute differs from the key's previous attribute in
deterministic order ``(ts, event_id)``; the version closes at the NEXT
version's ``valid_from`` (half-open intervals, so ``valid_to`` of one row
equals ``valid_from`` of the next — the join-friendly convention that
``asof.py`` probes consume directly).

Scale design (100 TB): one shuffle on the dimension key (all three window
functions share the same ``(key)`` partitioning — Catalyst runs them in a
single Window stage after one Exchange), then a narrow filter.  No
self-joins, no driver state.  Incremental maintenance at scale composes
with ``merge.py``: rebuild only keys present in the delta (delta keys are
a semi-join pushdown), which this formulation supports because a key's
history depends on its own rows alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.fixtures import load_table


def scd2_build(
    rows: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Build the Type-2 history of ``attr`` per ``key`` from an event stream."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    # A version opens where the attribute value changes (or at the first
    # row of the key).  lag() and the later lead()/row_number() all share
    # w's partitioning: one Exchange, one Window stage.
    changed = rows.withColumn("_prev", F.lag(attr).over(w)).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col(attr))
    )
    wc = Window.partitionBy(key).orderBy(ts, tiebreak)
    return (
        changed.select(
            F.col(key),
            F.col(attr),
            F.col(ts).alias("valid_from"),
            F.lead(ts).over(wc).alias("valid_to"),
            F.row_number().over(wc).alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy(key, "version")
    )


def scd2_apply(
    dim: DataFrame,
    batch: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Apply a strictly-later event batch to a stored SCD2 dimension.

    The production nightly shape: the dimension's own rows plus the new
    batch are sufficient — no raw-history rescan.  Per key: batch rows
    open versions where the attribute differs from the previous batch row
    OR, for the first batch row, from the key's current dim attribute;
    version numbers continue from the stored maximum; the stored open row
    closes at the first new version's ``valid_from``.  Equality with the
    one-shot ``scd2_build`` over the concatenated stream (for batches
    wholly after the dim's events) is both the registered oracle and a
    pytest property.

    Scale: one ``(key)`` shuffle on the batch, one broadcast-sized join
    of per-key current state, one key join to close open rows — the dim's
    closed rows pass through untouched (predicate-pushdown friendly).
    """
    wb = Window.partitionBy(key).orderBy(ts, tiebreak)
    cur = dim.filter(F.col("is_current")).select(
        key,
        F.col(attr).alias("_cur_attr"),
        F.col("version").alias("_cur_ver"),
    )
    seeded = (
        batch.select(key, attr, ts, tiebreak)
        .join(cur, key, "left")
        .withColumn("_prev", F.lag(attr).over(wb))
        .withColumn("_eff_prev", F.coalesce(F.col("_prev"), F.col("_cur_attr")))
    )
    changes = seeded.filter(
        F.col("_eff_prev").isNull() | (F.col("_eff_prev") != F.col(attr))
    )
    new_rows = (
        changes.select(
            F.col(key),
            F.col(attr),
            F.col(ts).alias("valid_from"),
            F.lead(ts).over(wb).alias("valid_to"),
            (
                F.row_number().over(wb) + F.coalesce(F.col("_cur_ver"), F.lit(0))
            ).alias("version"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    first_new = new_rows.groupBy(key).agg(F.min("valid_from").alias("_fn"))
    closed = (
        dim.join(first_new, key, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("is_current") & F.col("_fn").isNotNull(), F.col("_fn")
            ).otherwise(F.col("valid_to")),
        )
        .withColumn("is_current", F.col("is_current") & F.col("_fn").isNull())
        .drop("_fn")
    )
    return closed.unionByName(
        new_rows.select(*closed.columns)
    ).orderBy(key, "version")


_SCD2_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER w AS _prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changed AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered WHERE _prev IS NULL OR _prev <> event_type
)
SELECT user_id, event_type,
       ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       CAST(ROW_NUMBER() OVER w AS INT) AS version,
       LEAD(ts) OVER w IS NULL AS is_current
FROM changed
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


@register("events_scd2_user_type", oracle=_SCD2_ORACLE)
def events_scd2_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity history of each user's event_type attribute."""
    return scd2_build(load_table(spark, sf_dir, "events"))


def scd2_pit_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Point-in-time enrichment: attach the dim version active at each
    fact's timestamp (half-open containment, so a version opening AT the
    fact's ts wins and zero-length versions from same-ts flips match
    nothing).  Exactly one version covers each fact by construction.

    Scale: key-equi join with a residual range predicate — the dimension
    is versions-per-key small relative to facts, so at scale it
    broadcasts; locally Catalyst picks SMJ on the key.  No interval
    explosion needed because containment is resolved per key.
    """
    e, d = facts.alias("e"), dim.alias("d")
    return (
        e.join(
            d,
            (F.col(f"e.{key}") == F.col(f"d.{key}"))
            & (F.col(f"e.{ts}") >= F.col("d.valid_from"))
            & (F.col("d.valid_to").isNull() | (F.col(f"e.{ts}") < F.col("d.valid_to"))),
        )
        .select(
            F.col("e.event_id"),
            F.col(f"e.{key}").alias(key),
            F.col(f"e.{ts}").alias(ts),
            F.col("d.version"),
            F.col("d.event_type").alias("attr_active"),
            (F.col("e.event_type") == F.col("d.event_type")).alias("is_consistent"),
        )
        # (trailing global sort dropped r11: order-insensitive driver
        # compare — it range-shuffled the full fact-scale output.)
    )


_PIT_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER w AS _prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changed AS (
    SELECT user_id, event_type, ts, event_id
    FROM ordered WHERE _prev IS NULL OR _prev <> event_type
),
dim AS (
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(ROW_NUMBER() OVER w AS INT) AS version
    FROM changed
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e.event_id, e.user_id, e.ts AS ts, d.version,
       d.event_type AS attr_active,
       e.event_type = d.event_type AS is_consistent
FROM events e
JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
ORDER BY event_id
"""


@register("events_scd2_pit_join", oracle=_PIT_ORACLE)
def events_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach the active SCD2 version to every event (PIT probe)."""
    ev = load_table(spark, sf_dir, "events")
    return scd2_pit_join(ev, scd2_build(ev))


@register("events_scd2_apply_late_batch", oracle=_SCD2_ORACLE)
def events_scd2_apply_late_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-vs-one-shot SCD2 maintenance: build the dimension from the
    first half of the stream, apply the second half as a late batch, and
    hash-match the ONE-SHOT oracle — certifying the incremental path.

    The epoch-midpoint cutoff is two scalar aggregates collected to the
    driver (bounded by construction); the split itself stays lazy.
    """
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    cutoff = (int(lo) + int(hi)) // 2
    early = ev.filter(F.col("ts").cast("long") < cutoff)
    late = ev.filter(F.col("ts").cast("long") >= cutoff)
    return scd2_apply(scd2_build(early), late)


_BITEMPORAL_ORACLE = """
WITH p AS (
    SELECT CAST(FLOOR(date_part('epoch', MIN(ts))) AS BIGINT) AS lo,
           CAST(FLOOR(date_part('epoch', MAX(ts))) AS BIGINT) AS hi
    FROM events
), params AS (
    SELECT lo + (hi - lo) // 2 AS tprobe FROM p
), pick1 AS (
    SELECT e.user_id, e.event_type,
           ROW_NUMBER() OVER (PARTITION BY e.user_id
                              ORDER BY e.ts DESC, e.event_id DESC) AS rn
    FROM events e, params
    WHERE e.event_id % 10 != 0
      AND CAST(FLOOR(date_part('epoch', e.ts)) AS BIGINT) <= params.tprobe
), pick2 AS (
    SELECT e.user_id, e.event_type,
           ROW_NUMBER() OVER (PARTITION BY e.user_id
                              ORDER BY e.ts DESC, e.event_id DESC) AS rn
    FROM events e, params
    WHERE CAST(FLOOR(date_part('epoch', e.ts)) AS BIGINT) <= params.tprobe
)
SELECT CAST(1 AS INT) AS txn_version, user_id, event_type AS attr_at_t
FROM pick1 WHERE rn = 1
UNION ALL
SELECT CAST(2 AS INT), user_id, event_type FROM pick2 WHERE rn = 1
ORDER BY txn_version, user_id
"""


@register("events_scd2_bitemporal", oracle=_BITEMPORAL_ORACLE)
def events_scd2_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL time travel: SCD2 valid time × the versioned tier's
    transaction time.  90% of events are known at first build (dim v1
    committed to a snapshot-versioned table); the straggler 10%
    (event_id % 10 == 0, event times throughout history) arrive late and
    trigger a restatement — dim v2, a rebuild commit, because retroactive
    corrections are exactly the case the append-only ``scd2_apply``
    contract excludes.  The query then asks ONE valid-time question — "
    what was each user's type at the corpus midpoint?" — against BOTH
    transaction times: as v1 believed it, and as v2 knows it.  Divergent
    answers are the point: the audit trail of what was believed when
    survives the correction, which neither tier alone can express.

    Probe containment is evaluated on epoch seconds the same way in both
    engines (floor truncation), so version boundaries falling inside the
    probe second resolve identically.  Plan: two dim reads are O(users ×
    versions); each probe filter is narrow; the union is shuffle-free.

    Reference anchor: script.js:184-214 keeps only latest state — no
    valid time, no transaction time; this row composes both extensions.
    """
    import os as _os
    import uuid as _uuid

    from ..fsutil import process_staging_dir

    from .timetravel import versioned_commit, versioned_read

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    tprobe = (int(lo) + int(hi)) // 2
    known_first = ev.filter(F.col("event_id") % 10 != 0)

    table = process_staging_dir(f"bitemp_{_uuid.uuid4().hex[:8]}")
    _os.makedirs(_os.path.join(table, "data"), exist_ok=True)
    v1 = versioned_commit(spark, scd2_build(known_first), table)
    v2 = versioned_commit(spark, scd2_build(ev), table, replace=True)

    def as_of(v: int) -> DataFrame:
        dim = versioned_read(spark, table, v)
        return dim.filter(
            (F.col("valid_from").cast("long") <= tprobe)
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to").cast("long") > tprobe)
            )
        ).select(
            F.lit(v).cast("int").alias("txn_version"),
            "user_id",
            F.col("event_type").alias("attr_at_t"),
        )

    return as_of(v1).unionByName(as_of(v2)).orderBy("txn_version", "user_id")
