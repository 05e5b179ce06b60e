"""Mergeable ε-approximate quantile sketches (MRL / Greenwald-Khanna
family, the Agarwal et al. "Mergeable Summaries" construction).

The quantile twin of the HLL row (``dedup_hll_sketch_union``): each
partition — or ingest batch, or day — persists a COMPRESSED rank summary
of its values (≤ ⌈1/ε⌉+1 entries carrying exact (rmin, rmax) rank bounds
within their own multiset); any later rollup answers quantiles by merging
STORED summaries with no rescan of the data.  That is the property
``approx_percentile`` cannot give: Spark's sketch lives and dies inside
one query, while a persisted summary table turns corpus-wide p99 tracking
into an O(parts/ε) metadata read.

Construction (deterministic, no random sampling):

* Per sorted partition of n rows, keep every s-th order statistic with
  s = max(1, ⌈ε·n⌉), plus the last — each kept entry's rank is EXACT
  (rmin = rmax = its index), and any unkept rank is bracketed by kept
  neighbours at distance < s, so the partition summary answers ranks
  within ±ε·n.
* Merge (associative, order-insensitive): an entry's merged rank bounds
  add, per other summary, the rmin of the largest entry ≤ v (lower) and
  the rmax of the smallest entry ≥ v, or that summary's total if none
  (upper).  Uncertainties add, so the merged summary answers any rank
  within ±ε·N — the textbook mergeability bound.
* Query: for target rank t = ⌈q·N⌉ return the entry whose bracket
  [rmin, rmax] sits closest to t; guaranteed |true_rank(v) − t| ≤ ε·N.

Scale: summaries are O(1/ε) per partition regardless of partition size;
the probe collects O(parts/ε) entries — bounded metadata, never data.
The reference has no statistics tier at all (script.js:1-268); this is
§2.10 scope ("stats & sketches") extended to the storage pattern.
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fsutil import process_staging_dir
from ..registry import register
from ..sources.fixtures import load_table

#: Default accuracy: ranks within ±EPS·N.
EPS = 1.0 / 64.0

_SKETCH_SCHEMA = "part_id long, v double, rmin long, rmax long, n_part long"


def build_partition_sketches(
    df: DataFrame, value_col: str, eps: float = EPS, num_parts: int = 32
) -> DataFrame:
    """Per-partition compressed rank summaries of ``value_col``.

    Rows are hash-routed on a stable key expression (never round-robin,
    whose placement is retry- and plan-dependent), sorted within each
    partition, and compressed by one Arrow-batched pass.  Output is the
    sketch TABLE: (part_id, v, rmin, rmax, n_part), ≤ ⌈1/ε⌉+1 rows per
    partition — ready to persist and merge later."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vals: list[np.ndarray] = []
        pid = None
        for b in batches:
            if len(b):
                pid = int(b["__pid"].iloc[0])
                vals.append(b["__v"].to_numpy(dtype="float64"))
        if pid is None:
            return
        v = np.sort(np.concatenate(vals))
        n = len(v)
        s = max(1, math.ceil(eps * n))
        idx = np.unique(np.concatenate([np.arange(0, n, s), [n - 1]]))
        yield pd.DataFrame(
            {
                "part_id": np.full(len(idx), pid, dtype="int64"),
                "v": v[idx],
                "rmin": idx + 1,  # exact 1-based rank within the partition
                "rmax": idx + 1,
                "n_part": np.full(len(idx), n, dtype="int64"),
            }
        )

    routed = (
        df.select(F.col(value_col).cast("double").alias("__v"))
        .withColumn("__pid", (F.xxhash64("__v") % num_parts + num_parts) % num_parts)
        .repartition(num_parts, "__pid")
    )
    return routed.mapInPandas(summarize, _SKETCH_SCHEMA)


def merge_sketches(
    sketch_rows: list[tuple[int, float, int, int, int]],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Merge per-partition summaries into global (values, rmin, rmax, N).

    Pure bounded-metadata arithmetic (numpy over O(parts/ε) entries) —
    the driver-side cost is independent of the data size by design."""
    by_part: dict[int, list[tuple[float, int, int, int]]] = {}
    for pid, v, rmin, rmax, n_part in sketch_rows:
        by_part.setdefault(int(pid), []).append(
            (float(v), int(rmin), int(rmax), int(n_part))
        )
    summaries = []
    total = 0
    for pid, rows in by_part.items():
        rows.sort()
        arr = np.array([(r[0], r[1], r[2]) for r in rows], dtype="float64")
        n_part = rows[0][3]
        total += n_part
        summaries.append((arr[:, 0], arr[:, 1], arr[:, 2], n_part))
    all_v = np.sort(np.unique(np.concatenate([s[0] for s in summaries])))
    g_rmin = np.zeros(len(all_v))
    g_rmax = np.zeros(len(all_v))
    for v, rmin, rmax, n_part in summaries:
        # lower bound: rmin of the largest entry with value <= x (0 if none)
        pos = np.searchsorted(v, all_v, side="right") - 1
        g_rmin += np.where(pos >= 0, rmin[np.clip(pos, 0, None)], 0.0)
        # upper bound: rmax of the smallest entry with value >= x, minus 1
        # (ranks strictly below x), or the whole partition if none above
        pos_up = np.searchsorted(v, all_v, side="left")
        above = pos_up < len(v)
        up = np.where(above, rmax[np.clip(pos_up, None, len(v) - 1)] - 1, n_part)
        g_rmax += up
    # an entry itself occupies a rank: the bracket for value x as a rank is
    # [g_rmin, g_rmax + 1] — keep rmax exclusive-adjusted
    return all_v, g_rmin, g_rmax + 1, total


def query_quantiles(
    values: np.ndarray,
    rmin: np.ndarray,
    rmax: np.ndarray,
    total: int,
    qs: list[float],
) -> list[tuple[float, float, int, int]]:
    """For each q, the value whose merged rank bracket best covers
    ⌈q·N⌉.  Returns (q, value, rank_lo, rank_hi) rows."""
    out = []
    mid = (rmin + rmax) / 2.0
    for q in qs:
        t = max(1, math.ceil(q * total))
        i = int(np.argmin(np.abs(mid - t)))
        out.append((q, float(values[i]), int(rmin[i]), int(rmax[i])))
    return out


QUANTILES = [0.01, 0.25, 0.5, 0.75, 0.99]


def quantile_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile lifecycle end to end: build per-partition rank
    summaries of events.value, PERSIST them as a sketch table, then
    answer p1/p25/p50/p75/p99 by merging the STORED sketches — no second
    scan of the events data.  Deterministic (hash routing + sorted
    compression, no sampling).  Returns the raw estimates
    (q, est_value, rank_lo, rank_hi, n_total) — the registered strict
    query wraps these in the rank-bracket certificate."""
    events = load_table(spark, sf_dir, "events")
    sk = build_partition_sketches(events, "value")
    store = process_staging_dir(f"qsketch_{uuid.uuid4().hex[:8]}")
    sk.write.mode("overwrite").parquet(store)
    rows = [
        (r.part_id, r.v, r.rmin, r.rmax, r.n_part)
        for r in spark.read.parquet(store).collect()
    ]
    values, rmin, rmax, total = merge_sketches(rows)
    est = query_quantiles(values, rmin, rmax, total, QUANTILES)
    return spark.createDataFrame(
        [
            (q, v, lo, hi, total)
            for q, v, lo, hi in est
        ],
        "q double, est_value double, rank_lo long, rank_hi long, n_total long",
    ).orderBy("q")


def _rank_bracket_certificate(
    events: DataFrame,
    est: DataFrame,
    group_cols: list[str],
    n_col: str,
) -> DataFrame:
    """Strict certificate for a quantile estimate table: one exact scan
    computes each estimate's true rank bracket [cnt_lt+1, cnt_le] among
    the values it summarises, and ``within_eps`` asserts that bracket
    overlaps the ±ε·N band around the target rank ⌈q·N⌉ (+1 slack for
    the tie/rounding convention, the pytest suite's own criterion).  The
    sketch-valued column never reaches the output, so a DuckDB oracle
    reproduces the row exactly — the estimate is verified, not trusted
    (VERDICT r08 task 3)."""
    if len(group_cols) == 1:  # global tier: group_cols == ["q"]
        joined = events.crossJoin(F.broadcast(est))
    else:  # grouped tier: equi-join on the leading group column(s)
        joined = events.join(F.broadcast(est), group_cols[:-1])
    ranks = joined.groupBy(*group_cols, "est_value", n_col).agg(
        F.sum((F.col("value") < F.col("est_value")).cast("long")).alias(
            "cnt_lt"
        ),
        F.sum((F.col("value") <= F.col("est_value")).cast("long")).alias(
            "cnt_le"
        ),
    )
    t = F.greatest(F.lit(1.0), F.ceil(F.col("q") * F.col(n_col)))
    eps_n = F.lit(EPS) * F.col(n_col)
    within = (F.col("cnt_lt") + 1 <= t + eps_n + 1) & (
        F.col("cnt_le") >= t - eps_n - 1
    )
    return ranks.select(
        *group_cols, F.col(n_col), within.alias("within_eps")
    ).orderBy(*group_cols)


@register(
    "events_quantile_sketch",
    # The estimates are sketch-valued (engine-specific by construction),
    # so the STRICT row is the certificate: the oracle recomputes N and
    # expects every rank-bracket check to hold.
    oracle="""
    SELECT CAST(t.q AS DOUBLE) AS q,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_total,
           TRUE AS within_eps
    FROM (VALUES (0.01), (0.25), (0.5), (0.75), (0.99)) AS t(q)
    ORDER BY q
    """,
)
def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict tier of :func:`quantile_sketch_estimates` (VERDICT r08
    task 3 — upgraded from rows-only): the registered row carries the
    target quantile, the exact N, and a ``within_eps`` boolean proving
    the stored-sketch estimate's true rank sits within ±ε·N of ⌈q·N⌉.
    A broken sketch build/merge/query emits FALSE and hash-mismatches
    the oracle — a genuinely strict check on a non-SQL-expressible
    operator."""
    events = load_table(spark, sf_dir, "events")
    est = quantile_sketch_estimates(spark, sf_dir).select(
        "q", "est_value", "n_total"
    )
    return _rank_bracket_certificate(events, est, ["q"], "n_total")


def equidepth_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier `events_equidepth_histogram`'s docstring names:
    bin BOUNDARIES come from the merged rank sketch (±ε·N rank error,
    O(parts/ε) metadata), bucket COUNTS from one exact narrow pass that
    never needs a global window at all.  Same output shape as the exact
    auditor; each bucket's row count is within ε·N·2 of N/8 by the
    sketch guarantee (tests/test_quantiles.py pins it against the exact
    twin).

    This split is the production pattern: the exact operator's
    cumulative-window pass costs a single-partition O(distinct) step,
    while this one is two embarrassingly parallel scans — sketch build +
    bucketed count — with nothing global but 7 boundary doubles."""
    events = load_table(spark, sf_dir, "events")
    sk_rows = [
        (r.part_id, r.v, r.rmin, r.rmax, r.n_part)
        for r in build_partition_sketches(events, "value").collect()
    ]
    values, rmin, rmax, total = merge_sketches(sk_rows)
    qs = [i / 8.0 for i in range(1, 8)]
    bounds = [v for _q, v, _lo, _hi in query_quantiles(values, rmin, rmax, total, qs)]
    # bucket = count of boundaries strictly below the value (0..7)
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(F.col("value") > F.lit(b), 1).otherwise(0)
    return (
        events.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("bucket")
    )


@register(
    "events_equidepth_histogram_sketch",
    # Bucket boundaries are sketch-valued (engine-specific), so the
    # STRICT row is the depth certificate: 8 buckets must exist, cover
    # exactly N rows in total, and each bucket's depth must sit within
    # the 2·ε·N sketch band of N/8 (the pytest suite's own criterion).
    oracle="""
    SELECT CAST(t.bucket AS INT) AS bucket,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_total,
           TRUE AS depth_within_band
    FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) AS t(bucket)
    ORDER BY bucket
    """,
)
def events_equidepth_histogram_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict tier of :func:`equidepth_sketch_estimates` (the VERDICT r08
    task-3 certificate pattern): the registered row carries the bucket
    id, the exact corpus N, and a boolean proving the sketch-bounded
    bucket's actual depth lies within 2·ε·N of the ideal N/8.  Missing
    buckets, a lost row, or a broken sketch merge all hash-mismatch the
    8-row oracle.  The raw (bucket, lo, hi, n_rows) estimates remain
    available via :func:`equidepth_sketch_estimates` and keep their
    pytest band-check against the exact auditor."""
    est = equidepth_sketch_estimates(spark, sf_dir)
    # 8 bucket rows by construction — assert before the global sum window
    # (VERDICT r10 task 3).
    from .guards import bounded_window_guard

    est = bounded_window_guard(est, "events_equidepth_histogram_sketch")
    n_total = F.sum("n_rows").over(Window.partitionBy())
    band = (F.lit(2.0 * EPS) * n_total) + F.lit(1.0)
    ideal = n_total / F.lit(8.0)
    return (
        est.select(
            F.col("bucket").cast("int").alias("bucket"),
            n_total.alias("n_total"),
            (F.abs(F.col("n_rows") - ideal) <= band).alias(
                "depth_within_band"
            ),
        )
        .orderBy("bucket")
    )


def build_grouped_sketches(
    df: DataFrame,
    group_col: str,
    value_col: str,
    eps: float = EPS,
    num_parts: int = 8,
) -> DataFrame:
    """Per-GROUP rank summaries: rows route on (group, value-hash band),
    so each (group, band) is wholly co-located and one Arrow pass emits
    its compressed summary.  Output (grp, part_id, v, rmin, rmax,
    n_part) — the same mergeable contract as the global sketch, keyed by
    group; summaries stay O(groups × bands / ε) however large the data."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import collections

        acc: dict[tuple, list] = collections.defaultdict(list)
        for b in batches:
            for (g, pid), sub in b.groupby(["__g", "__pid"], sort=False):
                acc[(g, int(pid))].append(
                    sub["__v"].to_numpy(dtype="float64")
                )
        for (g, pid), chunks in acc.items():
            v = np.sort(np.concatenate(chunks))
            n = len(v)
            s = max(1, math.ceil(eps * n))
            idx = np.unique(np.concatenate([np.arange(0, n, s), [n - 1]]))
            yield pd.DataFrame(
                {
                    "grp": [g] * len(idx),
                    "part_id": np.full(len(idx), pid, dtype="int64"),
                    "v": v[idx],
                    "rmin": idx + 1,
                    "rmax": idx + 1,
                    "n_part": np.full(len(idx), n, dtype="int64"),
                }
            )

    routed = (
        df.select(
            F.col(group_col).cast("string").alias("__g"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .withColumn(
            "__pid", (F.xxhash64("__v") % num_parts + num_parts) % num_parts
        )
        .repartition(num_parts * 4, "__g", "__pid")
    )
    return routed.mapInPandas(
        summarize,
        "grp string, part_id long, v double, rmin long, rmax long, n_part long",
    )


GROUPED_QUANTILES = [0.5, 0.95, 0.99]


def grouped_quantile_sketch_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type p50/p95/p99 from mergeable rank sketches — the
    per-segment latency-style monitoring shape: one summary table serves
    every group's quantiles with no per-group rescan, and per-group
    summaries merge across ingest batches exactly like the global tier.
    Deterministic.  Returns raw estimates (event_type, q, est_value,
    n_group); the registered strict query wraps the certificate."""
    events = load_table(spark, sf_dir, "events")
    sk = build_grouped_sketches(events, "event_type", "value")
    rows = sk.collect()
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r.grp, []).append(
            (r.part_id, r.v, r.rmin, r.rmax, r.n_part)
        )
    out = []
    for g in sorted(by_group):
        values, rmin, rmax, total = merge_sketches(by_group[g])
        for q, v, lo, hi in query_quantiles(
            values, rmin, rmax, total, GROUPED_QUANTILES
        ):
            out.append((g, q, v, total))
    return spark.createDataFrame(
        out, "event_type string, q double, est_value double, n_group long"
    ).orderBy("event_type", "q")


@register(
    "events_grouped_quantile_sketch",
    oracle="""
    SELECT e.event_type,
           CAST(t.q AS DOUBLE) AS q,
           CAST(COUNT(*) AS BIGINT) AS n_group,
           TRUE AS within_eps
    FROM events e CROSS JOIN (VALUES (0.5), (0.95), (0.99)) AS t(q)
    GROUP BY e.event_type, t.q
    ORDER BY event_type, q
    """,
)
def events_grouped_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Strict tier of :func:`grouped_quantile_sketch_estimates` (VERDICT
    r08 task 3 — upgraded from rows-only): per (event_type, q), the
    exact group size and a ``within_eps`` boolean proving the sketch
    estimate's true rank within its group sits within ±ε·N_g of
    ⌈q·N_g⌉ — the per-group mergeability guarantee, verified by one
    exact broadcast-join scan rather than trusted."""
    events = load_table(spark, sf_dir, "events")
    est = grouped_quantile_sketch_estimates(spark, sf_dir).select(
        "event_type", "q", "est_value", "n_group"
    )
    return _rank_bracket_certificate(
        events, est, ["event_type", "q"], "n_group"
    )


# ---------------------------------------------------------------------------
# Log2-binned (HDR-style) histogram with percentile-from-bins
# ---------------------------------------------------------------------------


def log2_histogram(events: DataFrame) -> DataFrame:
    """HDR-histogram readout: log2-binned value counts with the p50/p95/
    p99 BIN flagged in-table — the observability pattern for latency at
    scale (fixed relative error, ~40 bins regardless of row count, bins
    merge additively across hosts/partitions/days).

    Values quantize to integer micro-units; ``bin = floor(log2(v))`` is
    boundary-safe because the only inputs where log2 lands ON an integer
    are exact powers of two, where IEEE log2 is exact in both engines.
    The cumulative pass runs over the O(bins) relation (guarded), and a
    percentile's bin is the first whose cumulative count reaches
    ``ceil(q·n)`` — pure integer comparison, no interpolation.

    Output per bin: [lo_value, hi_value) bounds as exact dyadic
    rationals rounded to 6 dp, count, cumulative count, and the three
    percentile flags.
    """
    binned = (
        events.select(
            F.floor(F.col("value") * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("v_micro")
        )
        .filter(F.col("v_micro") > 0)
        .select(F.floor(F.log2("v_micro")).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return log2_histogram_tail(binned)


def log2_histogram_tail(binned: DataFrame) -> DataFrame:
    """Shared cumulative + percentile-flag tail over an additive
    (bin, n) relation — identical whether the bins come from one batch
    scan or folded stored streaming partials (the twin's serving read).
    """
    from .guards import bounded_window_guard

    guarded = bounded_window_guard(binned, "events_log2_histogram", 10_000)
    w = Window.partitionBy().orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = guarded.select(
        "bin",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(w_all).alias("total"),
    )

    def _flag(q_num: int, q_den: int):
        # first bin where cum_n >= ceil(q*total)  <=>  cum_n*q_den >= ...
        thresh = F.expr(f"(total * {q_num} + {q_den - 1}) div {q_den}")
        return (F.col("cum_n") >= thresh) & (
            F.col("cum_n") - F.col("n") < thresh
        )

    return cum.select(
        "bin",
        F.round(F.pow(F.lit(2.0), F.col("bin")) / 1000000.0, 6).alias(
            "lo_value"
        ),
        F.round(F.pow(F.lit(2.0), F.col("bin") + 1) / 1000000.0, 6).alias(
            "hi_value"
        ),
        "n",
        "cum_n",
        _flag(1, 2).alias("is_p50_bin"),
        _flag(19, 20).alias("is_p95_bin"),
        _flag(99, 100).alias("is_p99_bin"),
    ).orderBy("bin")


_LOG2_HIST_ORACLE = """
WITH binned AS (
    SELECT CAST(FLOOR(log2(v_micro)) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
        FROM events
    ) WHERE v_micro > 0
    GROUP BY 1
),
cum AS (
    SELECT bin, n,
           CAST(SUM(n) OVER (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_n,
           CAST(SUM(n) OVER () AS BIGINT) AS total
    FROM binned
)
SELECT bin,
       ROUND(2 ** bin / 1000000.0, 6) AS lo_value,
       ROUND(2 ** (bin + 1) / 1000000.0, 6) AS hi_value,
       n, cum_n,
       cum_n >= (total * 1 + 1) // 2
           AND cum_n - n < (total * 1 + 1) // 2 AS is_p50_bin,
       cum_n >= (total * 19 + 19) // 20
           AND cum_n - n < (total * 19 + 19) // 20 AS is_p95_bin,
       cum_n >= (total * 99 + 99) // 100
           AND cum_n - n < (total * 99 + 99) // 100 AS is_p99_bin
FROM cum
ORDER BY bin
"""


@register("events_log2_histogram", oracle=_LOG2_HIST_ORACLE)
def events_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-style log2 value histogram with in-table percentile bins."""
    return log2_histogram(load_table(spark, sf_dir, "events"))
