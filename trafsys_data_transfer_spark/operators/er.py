"""Entity resolution: sorted-neighborhood blocking + edit-distance verify.

Record linkage for dirty string keys — the fuzzy-matching counterpart of
the hash-based dedup family (dedup.py works on content fingerprints; this
works on *names* that were typed, truncated or OCR'd differently).

The fixture has no dirty-name column, so the query derives one
deterministically in-query (the FIXTURES.md derived-fixture pattern):
every 4th part's name gets one character dropped, every 4th+1 an adjacent
transposition — both at a position ≥ 2 keyed off ``p_partkey``, so the
corruption is reproducible in ANSI SQL and the first character survives
as a safe blocking key.

Method (the standard scalable ER recipe):
1. **Block** on the first character of the dirty name — candidate pairs
   never cross blocks.
2. **Sorted neighborhood** inside each block: order by (dirty, key) and
   pair each record with its next ``WINDOW`` neighbours — O(n·w)
   candidates instead of O(n²) block pairs, generated by ONE window
   (collect_list over a bounded following frame), no self-join.
3. **Verify** candidates with exact Levenshtein ≤ ``MAX_DIST``
   (JVM codegen `levenshtein`; DuckDB's `levenshtein` is the oracle).

Output pairs carry ``same_entity`` (do the CLEAN names agree?) so
precision is auditable downstream; recall is bounded by the blocking
choices — tests/test_basket_er.py measures both on planted corruptions.

Scale: one shuffle (the block/sort window); candidates are O(n·w);
Levenshtein runs on ≤ ~25-char strings inside whole-stage codegen.  At
100 TB the same plan holds — block cardinality grows with data, per-block
sort is the only per-key cost, and skewed blocks respond to AQE or a
second blocking character exactly like any skewed groupBy key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..sources.fixtures import load_table

#: Sorted-neighborhood width: each record pairs with this many followers.
WINDOW = 8
#: Verified match threshold (char drop = 1, adjacent transposition = 2).
MAX_DIST = 2

#: Deterministic dirty-name derivation, shared verbatim by both engines
#: (position ≥ 2 so the blocking character is never corrupted).
_DIRTY_SQL = """
    CASE
      WHEN p_partkey % 4 = 0 THEN
        substr(p_name, 1, 1 + p_partkey % (length(p_name) - 2))
        || substr(p_name, 3 + p_partkey % (length(p_name) - 2))
      WHEN p_partkey % 4 = 1 THEN
        substr(p_name, 1, 1 + p_partkey % (length(p_name) - 3))
        || substr(p_name, 3 + p_partkey % (length(p_name) - 3), 1)
        || substr(p_name, 2 + p_partkey % (length(p_name) - 3), 1)
        || substr(p_name, 4 + p_partkey % (length(p_name) - 3))
      ELSE p_name
    END
"""


@register(
    "er_fuzzy_matches",
    oracle=f"""
    WITH dirty AS (
        SELECT p_partkey, p_name, {_DIRTY_SQL} AS dname
        FROM part
    ),
    ranked AS (
        SELECT p_partkey, p_name, dname,
               substr(dname, 1, 1) AS blk,
               ROW_NUMBER() OVER (PARTITION BY substr(dname, 1, 1)
                                  ORDER BY dname, p_partkey) AS rnk
        FROM dirty
    ),
    cand AS (
        SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
               a.dname AS dname_a, b.dname AS dname_b,
               a.p_name = b.p_name AS same_entity
        FROM ranked a
        JOIN ranked b
          ON b.blk = a.blk
         AND b.rnk > a.rnk AND b.rnk <= a.rnk + {WINDOW}
    )
    SELECT pk_a, pk_b,
           CAST(levenshtein(dname_a, dname_b) AS INT) AS dist,
           same_entity
    FROM cand
    WHERE levenshtein(dname_a, dname_b) <= {MAX_DIST}
    ORDER BY pk_a, pk_b
    """,
)
def er_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matches among (deterministically) corrupted part
    names: sorted-neighborhood candidates within first-character blocks,
    verified at Levenshtein ≤ MAX_DIST.  ``same_entity`` exposes ground
    truth (clean names equal) for precision audits.
    """
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        "p_partkey", "p_name", F.expr(_DIRTY_SQL).alias("dname")
    ).withColumn("blk", F.substring("dname", 1, 1))
    # One window produces each record's next-WINDOW neighbours as an
    # array — no self-join, one Exchange on the block key.
    w = (
        Window.partitionBy("blk")
        .orderBy("dname", "p_partkey")
        .rowsBetween(1, WINDOW)
    )
    cand = (
        dirty.withColumn(
            "nbrs",
            F.collect_list(F.struct("p_partkey", "p_name", "dname")).over(w),
        )
        .select(
            F.col("p_partkey").alias("pk_a"),
            F.col("p_name").alias("name_a"),
            F.col("dname").alias("dname_a"),
            F.explode("nbrs").alias("b"),
        )
        .select(
            "pk_a",
            "dname_a",
            F.col("b.p_partkey").alias("pk_b"),
            F.col("b.dname").alias("dname_b"),
            (F.col("name_a") == F.col("b.p_name")).alias("same_entity"),
        )
        # length pre-filter: levenshtein >= |len difference|, so pairs
        # further apart than MAX_DIST in length can never verify — skip
        # the O(len^2) edit-distance for them (result-identical guard,
        # oracle unchanged)
        .filter(
            F.abs(F.length("dname_a") - F.length("dname_b")) <= MAX_DIST
        )
        .withColumn("dist", F.levenshtein("dname_a", "dname_b"))
    )
    return (
        cand.filter(F.col("dist") <= MAX_DIST)
        .select("pk_a", "pk_b", "dist", "same_entity")
        .orderBy("pk_a", "pk_b")
    )


def edit_distance_join(
    df: DataFrame, key_col: str, text_col: str
) -> DataFrame:
    """EXACT edit-distance-≤1 self-join via FastSS deletion neighborhoods
    — the completeness guarantee the sorted-neighborhood heuristic above
    trades away.

    Any two strings within Levenshtein distance 1 share a member of each
    other's deletion neighborhood (the string itself plus every
    single-character deletion): equal strings share the full string, a
    substitution shares the variant deleting the differing position, an
    insertion/deletion shares the shorter string itself.  So: expand each
    row to its ≤ L+1 variants (one ``sequence``+``explode`` — O(n·L)
    rows, JVM-side), hash-join on the variant, dedup candidate pairs,
    verify with codegen ``levenshtein``.  No O(n²) stage at any point;
    the variant join's skew profile is the variant-frequency histogram
    (near-uniform for name-like keys), and the verify prunes the
    distance-2 pairs that deletion-sharing admits.

    Returns (k1, k2, name1, name2, dist) with k1 < k2.
    """
    from ..session import spread

    # spread before the ×(L+1) variant expansion: the deletion-
    # neighborhood explode + per-variant xxhash64 is the dominant map
    # cost and runs on the scan's single input partition otherwise
    # (r11 probe: 3.3 s exec on one core).
    src = spread(
        df.select(F.col(key_col).alias("k"), F.col(text_col).alias("name")),
        "k",
    )
    # SLIM variant relation: (key, 64-bit variant hash).  Hashing shrinks
    # the join/shuffle payload ~4× vs shipping variant strings + names;
    # a hash collision can only ADD a candidate pair, and every candidate
    # is verified by exact levenshtein below — correctness is unaffected.
    variants = src.select(
        "k",
        F.explode(
            F.array_union(
                F.array(F.col("name")),
                F.transform(
                    F.sequence(F.lit(1), F.length("name")),
                    lambda i: F.concat(
                        F.substring(F.col("name"), F.lit(1), i - 1),
                        F.col("name").substr(i + 1, F.length("name")),
                    ),
                ),
            )
        ).alias("variant"),
    ).select("k", F.xxhash64("variant").alias("vh"))
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(b, (F.col("a.vh") == F.col("b.vh")) & (F.col("a.k") < F.col("b.k")))
        .select(F.col("a.k").alias("k1"), F.col("b.k").alias("k2"))
        .distinct()
    )
    named = (
        cand.join(src.select(F.col("k").alias("k1"), F.col("name").alias("name1")), "k1")
        .join(src.select(F.col("k").alias("k2"), F.col("name").alias("name2")), "k2")
    )
    return named.select(
        "k1",
        "k2",
        "name1",
        "name2",
        F.levenshtein("name1", "name2").cast("long").alias("dist"),
    ).filter(F.col("dist") <= 1)


@register(
    "er_edit_distance_join",
    oracle="""
    SELECT a.c_custkey AS k1, b.c_custkey AS k2,
           a.c_name AS name1, b.c_name AS name2,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY k1, k2
    """,
)
def er_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within edit distance 1, exactly: the
    DuckDB oracle is the quadratic cross-join Levenshtein; the Spark
    plan is the linear-expansion FastSS join.  Customer names differ in
    their digit tail, so single-digit substitutions produce a dense,
    non-trivial pair set that any missed-variant bug would shrink —
    a hash mismatch, not a quiet recall loss."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return edit_distance_join(customer, "c_custkey", "c_name").orderBy(
        "k1", "k2"
    )


@register(
    "er_golden_record",
    oracle=f"""
    WITH RECURSIVE dirty AS (
        SELECT p_partkey, p_name, {_DIRTY_SQL} AS dname
        FROM part
    ),
    ranked AS (
        SELECT p_partkey, p_name, dname,
               substr(dname, 1, 1) AS blk,
               ROW_NUMBER() OVER (PARTITION BY substr(dname, 1, 1)
                                  ORDER BY dname, p_partkey) AS rnk
        FROM dirty
    ),
    pairs AS (
        SELECT a.p_partkey AS u, b.p_partkey AS v
        FROM ranked a
        JOIN ranked b
          ON b.blk = a.blk
         AND b.rnk > a.rnk AND b.rnk <= a.rnk + {WINDOW}
        WHERE levenshtein(a.dname, b.dname) <= {MAX_DIST}
    ),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
        SELECT p_partkey AS id, p_partkey AS r FROM dirty
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id
    ),
    comp AS (
        SELECT id AS p_partkey, MIN(r) AS component FROM reach GROUP BY id
    ),
    member AS (
        SELECT c.component, d.p_partkey, d.dname,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY length(d.dname) DESC,
                                           d.p_partkey ASC) AS pick
        FROM comp c JOIN dirty d USING (p_partkey)
    )
    SELECT m.p_partkey, m.component,
           g.dname AS golden_name,
           CAST(s.n AS BIGINT) AS cluster_size
    FROM member m
    JOIN (SELECT component, dname FROM member WHERE pick = 1) g
      USING (component)
    JOIN (SELECT component, COUNT(*) AS n FROM member GROUP BY component) s
      USING (component)
    ORDER BY m.p_partkey
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVORSHIP — the MDM step after matching: fuzzy match pairs →
    connected components (each component is one real-world entity) → one
    GOLDEN record per entity by a deterministic completeness rule
    (longest dirty name wins — char-drop corruption shortens, so length
    is the fidelity signal — ties to the smallest key).  Every member row
    is returned with its entity id, the survived name and the cluster
    size, so downstream joins can re-key to golden ids.

    Plan shape: the match generation is er_fuzzy_matches' single
    window; ``graph.connected_components`` counts the symmetrized match
    edges and, while they fit under the broadcast threshold (÷ 16 bytes
    per edge), labels them on the driver and broadcasts the labels back
    — a handful of build-time jobs instead of the star-contraction
    loop's ~9 per round, which remains the path above the bound;
    survivorship is one groupBy plus a component-keyed join back —
    O(entities) state, no quadratic stage.
    The oracle recomputes the closure as a recursive CTE and the
    survivorship rule in SQL."""
    from .graph import connected_components

    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        "p_partkey", F.expr(_DIRTY_SQL).alias("dname")
    )
    pairs = er_fuzzy_matches(spark, sf_dir).select(
        F.col("pk_a").alias("src"), F.col("pk_b").alias("dst")
    )
    comp = connected_components(
        dirty.select(F.col("p_partkey").alias("id")), pairs
    ).select(F.col("id").alias("p_partkey"), "component")
    # member feeds BOTH the survivorship aggregate and the final join —
    # without a checkpoint the r11 plan dump shows the whole
    # labels-join subtree (scan, components output join, filters)
    # duplicated verbatim (ops 1-17 vs 21-38 in
    # plans/r11/er_golden_record_after.txt).  Lazy checkpoint runs it
    # once (r12, guide §1.2).
    member = comp.join(dirty, "p_partkey").localCheckpoint(eager=False)
    golden = member.groupBy("component").agg(
        F.max_by(
            "dname",
            F.struct(
                F.length("dname").alias("l"),
                (-F.col("p_partkey")).alias("nk"),
            ),
        ).alias("golden_name"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    # Trailing ORDER BY dropped (r11 sort-drop precedent): the driver
    # canonicalizes (sorts) both sides before hashing, and the oracle
    # keeps its ORDER BY — the declared result SET is unchanged while the
    # full-output range shuffle disappears.
    return member.join(golden, "component").select(
        "p_partkey", "component", "golden_name", "cluster_size"
    )


@register(
    "er_blocking_quality",
    # every metric is an exact integer count; the two ratios divide at
    # the end (single IEEE ops) — bit-stable across engines
    oracle=f"""
    WITH dirty AS (
        SELECT p_partkey, p_name, {_DIRTY_SQL} AS dname
        FROM part
    ),
    ranked AS (
        SELECT p_partkey, p_name, dname,
               substr(dname, 1, 1) AS blk,
               ROW_NUMBER() OVER (PARTITION BY substr(dname, 1, 1)
                                  ORDER BY dname, p_partkey) AS rnk
        FROM dirty
    ),
    blocks AS (
        SELECT blk, CAST(COUNT(*) AS BIGINT) AS b FROM ranked GROUP BY blk
    ),
    cand AS (
        SELECT CAST(SUM(b * (b - 1) / 2) AS BIGINT) AS cand_block,
               CAST(SUM(CASE WHEN b <= {WINDOW}
                        THEN b * (b - 1) / 2
                        ELSE {WINDOW} * b - {WINDOW} * ({WINDOW} + 1) / 2
                        END) AS BIGINT) AS cand_sn,
               CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM blocks
    ),
    tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_pairs,
               CAST(SUM(CASE WHEN a.blk = b.blk THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp_block,
               CAST(SUM(CASE WHEN a.blk = b.blk
                              AND b.rnk - a.rnk <= {WINDOW}
                              AND b.rnk > a.rnk THEN 1
                             WHEN a.blk = b.blk
                              AND a.rnk - b.rnk <= {WINDOW}
                              AND a.rnk > b.rnk THEN 1
                        ELSE 0 END) AS BIGINT) AS tp_sn
        FROM ranked a JOIN ranked b
          ON b.p_name = a.p_name AND b.p_partkey > a.p_partkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM ranked)
    SELECT n.n_records, cand.n_blocks, tp.true_pairs,
           cand.cand_block, cand.cand_sn,
           ROUND(1.0 - 2.0 * cand.cand_block
                 / (n.n_records * (n.n_records - 1)), 6) AS rr_block,
           ROUND(1.0 - 2.0 * cand.cand_sn
                 / (n.n_records * (n.n_records - 1)), 6) AS rr_sn,
           ROUND(1.0 * tp.tp_block / tp.true_pairs, 6) AS pc_block,
           ROUND(1.0 * tp.tp_sn / tp.true_pairs, 6) AS pc_sn
    FROM n, cand, tp
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme audit for the ER pipeline: reduction ratio (how
    many of the n(n−1)/2 pairs the scheme avoids) and pairs completeness
    (what fraction of TRUE matches the scheme can still reach) for both
    the raw first-character blocks and the sorted-neighborhood window
    inside them.  This is the measurement you run BEFORE committing to a
    blocking key at scale — a scheme with rr 0.99 / pc 0.4 silently
    drops 60% of matches.

    Candidate counts come from block SIZES (closed form, no pair
    materialization); the true-pair probe joins only same-entity rows,
    which is entity-bounded (duplicates per entity are constant, never
    corpus-scale).  All counts exact integers; two divisions at the end.
    """
    part = load_table(spark, sf_dir, "part")
    ranked = (
        part.select(
            "p_partkey", "p_name", F.expr(_DIRTY_SQL).alias("dname")
        )
        .withColumn("blk", F.substring("dname", 1, 1))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("blk").orderBy("dname", "p_partkey")
            ),
        )
    )
    blocks = ranked.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("b")
    )
    w = F.lit(WINDOW)
    cand = blocks.agg(
        F.sum(F.col("b") * (F.col("b") - 1) / 2)
        .cast("long")
        .alias("cand_block"),
        F.sum(
            F.when(
                F.col("b") <= WINDOW, F.col("b") * (F.col("b") - 1) / 2
            ).otherwise(w * F.col("b") - w * (w + 1) / 2)
        )
        .cast("long")
        .alias("cand_sn"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    a = ranked.select(
        F.col("p_name").alias("name"),
        F.col("p_partkey").alias("pk_a"),
        F.col("blk").alias("blk_a"),
        F.col("rnk").alias("rnk_a"),
    )
    b = ranked.select(
        F.col("p_name").alias("name"),
        F.col("p_partkey").alias("pk_b"),
        F.col("blk").alias("blk_b"),
        F.col("rnk").alias("rnk_b"),
    )
    same_blk = F.col("blk_a") == F.col("blk_b")
    in_win = same_blk & (
        F.abs(F.col("rnk_b") - F.col("rnk_a")) <= WINDOW
    )
    tp = (
        a.join(b, "name")
        .where(F.col("pk_b") > F.col("pk_a"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("true_pairs"),
            F.sum(same_blk.cast("long")).cast("long").alias("tp_block"),
            F.sum(in_win.cast("long")).cast("long").alias("tp_sn"),
        )
    )
    n = ranked.agg(F.count(F.lit(1)).cast("long").alias("n_records"))
    total_pairs = F.col("n_records") * (F.col("n_records") - 1)
    return (
        n.crossJoin(cand)
        .crossJoin(tp)
        .select(
            "n_records",
            "n_blocks",
            "true_pairs",
            "cand_block",
            "cand_sn",
            F.round(
                F.lit(1.0) - F.lit(2.0) * F.col("cand_block") / total_pairs,
                6,
            ).alias("rr_block"),
            F.round(
                F.lit(1.0) - F.lit(2.0) * F.col("cand_sn") / total_pairs, 6
            ).alias("rr_sn"),
            F.round(
                F.lit(1.0) * F.col("tp_block") / F.col("true_pairs"), 6
            ).alias("pc_block"),
            F.round(
                F.lit(1.0) * F.col("tp_sn") / F.col("true_pairs"), 6
            ).alias("pc_sn"),
        )
    )
