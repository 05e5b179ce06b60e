"""The capstone composition: a full pretraining-data curation funnel.

Every stage below ships — and is individually oracle- or pytest-verified
— elsewhere in this engine; this operator runs them AS ONE PIPELINE over
the corpus and reports the stage-by-stage yield funnel, which is the
artifact a data lead actually reviews before a training run:

    ingest → Gopher quality gate → corpus-LM perplexity filter
           → exact dedup → MinHash near-dup clustering
           → benchmark decontamination → sequence accounting

Composition is the point: id spaces must line up across seven operators,
keeper elections must not resurrect dropped docs, and the funnel counts
must be monotone non-increasing — invariants pytest asserts.  Every
count is an exact integer, and the whole funnel — portable-hash MinHash
banding and the bigram LM included — is replayed stage by stage by the
DuckDB oracle (:func:`_pretrain_portable_oracle`).

Scale posture is inherited from the components (each documented in its
own module): the funnel adds only narrow flag columns and O(stages)
bookkeeping on top — no new shuffle beyond what the components already
pay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.fixtures import load_table
from .contamination import EVAL_SOURCES, decontaminate_hits
from .dedup import fingerprint, minhash_near_dups
from .graph import connected_components
from .lm import lm_score_docs
from .text import (
    GOPHER_MAX_MEAN_WORD_LEN,
    GOPHER_MAX_SYMBOL_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_MEAN_WORD_LEN,
    GOPHER_MIN_STOPWORD_HITS,
    GOPHER_MIN_WORDS,
    STOPWORDS,
)

#: Keep documents at or below this corpus-LM percentile (drop the least
#: predictable tail — the CCNet-style noise filter run in reverse).
LM_KEEP_PCTILE = 0.95

#: Target training sequence length for the final token accounting.
SEQ_LEN = 2048


def pretrain_funnel(
    spark: SparkSession,
    docs: DataFrame,
    lm_keep_pctile: float = LM_KEEP_PCTILE,
) -> DataFrame:
    """Run the full curation funnel; returns (stage_no, stage, n_docs,
    n_tokens) with exact-integer counts.  ``lm_keep_pctile=1.0`` keeps
    every document at the LM stage (cut = max score) — the knob tests
    use to exercise the machinery without the corpus-dependent drop."""
    from ..session import spread

    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    # One doc_id-keyed spread at the funnel head (guide §2): every stage
    # below — Gopher regex gate, LM bigram explode, fingerprint window,
    # MinHash shingling, decontamination grams — does per-row expression
    # work and inherits its partitioning from the previous stage's
    # localCheckpoint, so off a single-file corpus the WHOLE funnel would
    # run its map-side work on one core (r11 probe: 16.0/14.4 s wall).
    base = spread(
        docs.select("doc_id", "source", "text", n_tokens.alias("n_tokens")),
        "doc_id",
    )

    stages: list[tuple[str, DataFrame]] = [("ingest", base)]

    # 1. Gopher quality gate (text_gopher_rules semantics, inline flags)
    n_nonspace = F.length(F.regexp_replace(F.col("text"), " ", ""))
    n_symbols = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\."))
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    mean_wl = n_nonspace.cast("double") / F.col("n_tokens")
    keep_q = (
        F.col("n_tokens").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (n_symbols.cast("double") / F.col("n_tokens") < GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_words.cast("double") / F.col("n_tokens") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )
    # localCheckpoint: each stage is both aggregated (funnel row) and
    # consumed by the next stage — materializing once prevents the
    # funnel from re-running every prefix of the pipeline per count
    # (measured 36.8 s -> ~8 s at sf0.001; same device as graph.py).
    quality = base.filter(keep_q).localCheckpoint(eager=True)
    stages.append(("quality_gate", quality))

    # 2. Corpus-LM noise filter: drop the least-predictable tail.  The LM
    # trains on the quality survivors themselves (held-in).
    scored = lm_score_docs(quality.select("doc_id", "text")).select(
        "doc_id", "avg_nll_micro"
    )
    cut = scored.agg(
        F.expr(f"percentile(avg_nll_micro, {lm_keep_pctile})").alias("cut")
    )
    lm_kept = (
        quality.join(scored, "doc_id")
        .join(F.broadcast(cut))
        .filter(F.col("avg_nll_micro") <= F.col("cut"))
        .select(*base.columns)
        .localCheckpoint(eager=True)
    )
    stages.append(("lm_filter", lm_kept))

    # 3. Exact dedup: min-doc_id keeper per content fingerprint
    from pyspark.sql.window import Window

    wfp = Window.partitionBy(fingerprint(F.col("text"))).orderBy("doc_id")
    exact = (
        lm_kept.withColumn("_rn", F.row_number().over(wfp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )
    stages.append(("exact_dedup", exact))

    # 4. Near-dup clustering: LSH pairs → components → min-id keeper
    pairs = minhash_near_dups(exact, threshold=0.5)
    comp = connected_components(
        exact.select(F.col("doc_id").alias("id")),
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    )
    # r12 (guide §1.2): the min-id keeper of a cluster IS its component
    # label — connected_components' contract is component = min reachable
    # id — so the former groupBy(component).min(id) + join re-derived a
    # column comp already carries (equivalence asserted row-for-row in
    # the r12 probe; the portable tier's end-to-end oracle hash pins it).
    keepers = comp.filter(F.col("id") == F.col("component"))
    neardup = (
        exact.join(keepers, exact.doc_id == keepers.id)
        .select(*base.columns)
        .localCheckpoint(eager=True)
    )
    stages.append(("neardup_dedup", neardup))

    # 5. Benchmark decontamination: drop docs sharing any 5-gram with the
    # eval shards
    eval_docs = docs.filter(F.col("source").isin(*EVAL_SOURCES))
    train = neardup.filter(~F.col("source").isin(*EVAL_SOURCES))
    hits = decontaminate_hits(train, eval_docs).select("doc_id")
    clean = train.join(hits, "doc_id", "left_anti").localCheckpoint(eager=True)
    stages.append(("decontaminated", clean))

    rows = []
    for i, (name, df) in enumerate(stages):
        rows.append(
            df.agg(
                F.lit(i).alias("stage_no"),
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
            )
        )
    funnel = rows[0]
    for r in rows[1:]:
        funnel = funnel.unionByName(r)
    # 6. Sequence accounting: concat-and-chunk capacity of the survivors
    seqs = clean.agg(
        F.lit(len(stages)).alias("stage_no"),
        F.lit("packed_sequences").alias("stage"),
        F.expr(f"coalesce(sum(n_tokens), 0) div {SEQ_LEN}").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_tokens"),
    )
    return funnel.unionByName(seqs).orderBy("stage_no")


def _pretrain_portable_oracle() -> str:
    """The capstone's SQL replay, assembled from the per-operator oracle
    fragments: Gopher gate conditions (text_gopher_rules), the bigram-LM
    CTE core scoped to the gate survivors + quantile_cont cut
    (text_lm_perplexity), windowed min-id exact dedup, the portable-hash
    MinHash chain scoped to the exact survivors + recursive component
    closure (dedup_neardup_pipeline_portable), the 5-gram eval-overlap
    anti-join (text_decontaminate), and the packed-sequence accounting —
    the ENTIRE funnel recomputed by DuckDB, stage by stage."""
    from .dedup import _JACCARD_SQL, minhash_portable_ctes
    from .lm import lm_core_ctes

    stop_list = ", ".join(repr(s) for s in STOPWORDS)
    eval_in = "(" + ", ".join(repr(s) for s in EVAL_SOURCES) + ")"
    from .contamination import DECONTAM_NGRAM

    n1 = DECONTAM_NGRAM - 1
    stage_sql = (
        "SELECT CAST({no} AS INT) AS stage_no, '{name}' AS stage, "
        "COUNT(*) AS n_docs, "
        "CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM {rel}"
    )
    stages = "\n    UNION ALL ".join(
        stage_sql.format(no=i, name=name, rel=rel)
        for i, (name, rel) in enumerate(
            [
                ("ingest", "corpus"),
                ("quality_gate", "gate"),
                ("lm_filter", "lmkept"),
                ("exact_dedup", "exact"),
                ("neardup_dedup", "neardup"),
                ("decontaminated", "clean"),
            ]
        )
    )
    return rf"""
    WITH RECURSIVE corpus AS (
        SELECT doc_id, source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    gate AS (
        SELECT doc_id, source, text, n_tokens FROM (
            SELECT c.*,
                   CAST(len(replace(text, ' ', '')) AS DOUBLE) / n_tokens
                       AS mwl,
                   CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
                       / n_tokens AS swr,
                   CAST(len(list_filter(string_split(text, ' '),
                                        x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / n_tokens AS awf,
                   len(list_filter(string_split(text, ' '),
                                   x -> x IN ({stop_list}))) AS shits
            FROM corpus c
        )
        WHERE n_tokens BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
          AND mwl BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                      AND {GOPHER_MAX_MEAN_WORD_LEN}
          AND swr < {GOPHER_MAX_SYMBOL_RATIO}
          AND awf >= {GOPHER_MIN_ALPHA_WORD_FRAC}
          AND shits >= {GOPHER_MIN_STOPWORD_HITS}
    ),
    {lm_core_ctes('gate')},
    per_doc AS (
        SELECT doc_id, n_scored, CAST(SUM(tf * nm) AS BIGINT) AS nll
        FROM scored GROUP BY doc_id, n_scored
    ),
    lmscore AS (
        SELECT doc_id, CAST(nll // n_scored AS BIGINT) AS avg_nll
        FROM per_doc
    ),
    cutv AS (
        SELECT quantile_cont(avg_nll, {LM_KEEP_PCTILE}) AS cut FROM lmscore
    ),
    lmkept AS (
        SELECT g.doc_id, g.source, g.text, g.n_tokens
        FROM gate g JOIN lmscore s USING (doc_id), cutv
        WHERE s.avg_nll <= cutv.cut
    ),
    exact AS (
        SELECT doc_id, source, text, n_tokens FROM (
            SELECT l.*, MIN(doc_id) OVER (
                PARTITION BY
                    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
            ) AS keeper
            FROM lmkept l
        ) WHERE doc_id = keeper
    ),
    {minhash_portable_ctes('exact')},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bucket a JOIN bucket b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.id_a AS u, c.id_b AS v
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
        WHERE {_JACCARD_SQL} >= 0.5
    ),
    nedges AS (SELECT u, v FROM verified UNION SELECT v, u FROM verified),
    reach AS (
        SELECT doc_id AS id, doc_id AS r FROM exact
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN nedges e ON e.u = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    keepers AS (
        SELECT component, MIN(id) AS keeper_id FROM comp GROUP BY component
    ),
    neardup AS (
        SELECT e.doc_id, e.source, e.text, e.n_tokens
        FROM exact e
        JOIN comp ON comp.id = e.doc_id
        JOIN keepers ON keepers.component = comp.component
        WHERE e.doc_id = keepers.keeper_id
    ),
    train AS (SELECT * FROM neardup WHERE source NOT IN {eval_in}),
    tg AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+{n1}], ' ') AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM train),
             unnest(generate_series(1, len(w) - {n1})) AS t(i)
    ),
    eg AS (
        SELECT DISTINCT array_to_string(w[i:i+{n1}], ' ') AS g
        FROM (SELECT string_split(text, ' ') AS w
              FROM corpus WHERE source IN {eval_in}),
             unnest(generate_series(1, len(w) - {n1})) AS t(i)
    ),
    hits AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g)),
    clean AS (
        SELECT * FROM train
        WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    )
    SELECT * FROM (
        {stages}
        UNION ALL
        SELECT CAST(6 AS INT), 'packed_sequences',
               CAST(COALESCE(SUM(n_tokens), 0) // {SEQ_LEN} AS BIGINT),
               CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT)
        FROM clean
    ) ORDER BY stage_no
    """


_PRETRAIN_ORACLE = _pretrain_portable_oracle()


@register("pretrain_data_pipeline", oracle=_PRETRAIN_ORACLE)
@register("pretrain_data_pipeline_portable", oracle=_PRETRAIN_ORACLE)
def pretrain_data_pipeline_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage yield funnel of the full curation pipeline — Gopher
    gate, held-in LM percentile filter, exact dedup, portable-hash
    near-dup clustering, 5-gram decontamination, packed-sequence
    accounting — replayed end-to-end by the DuckDB oracle.  Registered
    under both names."""
    return pretrain_funnel(spark, load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# token-budget curriculum selection
# ---------------------------------------------------------------------------

#: Fraction of the corpus's token mass the curriculum keeps.
CURRICULUM_BUDGET_FRAC = 0.3
#: Score bands for the distributed prefix-sum (monotone in score).
CURRICULUM_BANDS = 1000


def token_budget_curriculum(
    docs: DataFrame, budget_frac: float = CURRICULUM_BUDGET_FRAC
) -> DataFrame:
    """Quality-ordered selection under a token budget: rank documents by
    lexical diversity (type-token ratio) descending and keep the prefix
    whose cumulative token count fits ``budget_frac`` of the corpus's
    total tokens — the "best docs first, stop at the budget" curriculum
    cut every pretraining mix does at least once.

    A naive global ``SUM OVER (ORDER BY score)`` serialises the corpus
    through one task, so the prefix sum is computed in two phases, the
    segmented-scan shape that survives 100 TB:

    1. band docs by ``floor(score × B)`` (a VALUE band — monotone in
       score, narrow per-row expression, no sort); per-band token totals
       are one keyed aggregate, and the running offset over the ≤ B+1
       band rows is a guarded single-partition window over a provably
       tiny relation;
    2. the exact cumulative sum runs per band (``partitionBy(band)`` —
       each partition holds only that band's docs) and adds the band's
       offset.  Because the band is monotone in score, (band desc, score
       desc, doc_id) is exactly the global (score desc, doc_id) order, so
       the stitched prefix sums equal the naive global scan's.
    """
    from pyspark.sql.window import Window

    from .guards import bounded_window_guard

    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("score"),
    ).withColumn(
        "band", F.floor(F.col("score") * CURRICULUM_BANDS).cast("long")
    )
    band_tot = scored.groupBy("band").agg(F.sum("n_tokens").alias("bt"))
    w_bands = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bounded_window_guard(
        band_tot, "token_budget_curriculum", CURRICULUM_BANDS + 1
    ).select(
        "band",
        F.coalesce(F.sum("bt").over(w_bands), F.lit(0)).alias("offset"),
        F.sum("bt").over(
            Window.orderBy(F.desc("band")).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_tokens"),
    )
    w_in_band = (
        Window.partitionBy("band")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        scored.join(F.broadcast(offsets), "band")
        .withColumn(
            "cum_tokens", F.col("offset") + F.sum("n_tokens").over(w_in_band)
        )
        .withColumn(
            "budget",
            F.floor(F.col("total_tokens") * F.lit(budget_frac)).cast("long"),
        )
    )
    return cum.filter(F.col("cum_tokens") <= F.col("budget")).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("score"), 6).alias("score"),
        "cum_tokens",
    )


@register(
    "docs_token_budget_curriculum",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS score
        FROM documents
    ),
    b AS (
        SELECT CAST(FLOOR(SUM(n_tokens) * {CURRICULUM_BUDGET_FRAC}) AS BIGINT)
                   AS budget
        FROM scored
    ),
    ordered AS (
        SELECT doc_id, n_tokens, score,
               CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id)
                    AS BIGINT) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, n_tokens, ROUND(score, 6) AS score, cum_tokens
    FROM ordered, b WHERE cum_tokens <= budget
    """,
)
def docs_token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum cut at 30% of corpus tokens, quality = type-token
    ratio.  The oracle is the naive single-scan prefix sum; the Spark
    side must reproduce it exactly from the banded two-phase plan."""
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_curriculum(docs)
