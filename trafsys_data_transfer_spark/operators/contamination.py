"""Benchmark decontamination and repetition-based quality gates (§2.10).

Two corpus-hygiene operators every LLM training pipeline runs before a
token reaches the model:

* **Decontamination** — drop (or at least flag) training documents that
  share verbatim word n-grams with an evaluation/benchmark set, so the
  model is not graded on data it memorised.  The standard recipe
  (GPT-3 appendix C, PaLM, Llama: 8-13-gram overlap) is an n-gram
  *equi-join*, not a similarity scan: explode each side into distinct
  n-grams, join on the gram, count hits per training doc.
* **Repetition quality** — Gopher-style (Rae et al. 2021, table A1)
  within-document repetition ratios: the fraction of all bigram
  occurrences taken by the single most frequent bigram, and the fraction
  that are repeats of an earlier occurrence.  Boilerplate, keyboard-mash
  and template spam score high and get dropped.

Scale design (100 TB):

* The benchmark side of decontamination is small (eval suites are
  thousands of documents, the corpus is billions), so its distinct-gram
  set is **broadcast** — the big side never shuffles: tokenize → explode
  → broadcast-hash-join → partial-agg count per doc.  One narrow pass
  over the corpus plus an O(|eval grams|) broadcast.  If the eval set
  ever outgrows broadcast range the same plan degrades gracefully to a
  shuffled equi-join on the gram hash — still no similarity scan.
* Repetition stats are **shuffle-free**: each document's ratios are a
  function of its own bigram multiset, computed in one Arrow-batched
  vectorised pass (see :func:`repetition_stats` for the measured
  three-way comparison against the groupBy and higher-order-function
  plans) — nothing crosses the wire at any corpus size.

Reference basis: the reference engine (``/root/reference/script.js``)
has no corpus operators; these extend the mandated north-star surface
(SURVEY.md §2.10) with the decontamination/repetition stages of a
training-data curation pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType, StructField, StructType

from ..registry import register
from ..sources.fixtures import load_table
from .dedup import shingles

#: Word-n-gram order for contamination matching.  Production recipes use
#: 8-13; the fixture corpus plants ~100-token near-duplicate documents, so
#: 5 keeps the overlap surface non-degenerate at sf0.01 while exercising
#: the identical plan shape.
DECONTAM_NGRAM = 5

#: Fixture stand-in for the benchmark/eval corpus: four of the twenty
#: ``source`` shards.  In production this is the eval-suite table.
EVAL_SOURCES = ("src0", "src1", "src2", "src3")


def decontaminate_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    n: int = DECONTAM_NGRAM,
    join_on_hash: bool = True,
) -> DataFrame:
    """Per-training-doc count of distinct n-grams shared with the eval set.

    Both sides are reduced to *distinct* grams (``shingles`` dedups within a
    document; ``.distinct()`` dedups across the eval corpus) so the count is
    "how many of my n-grams appear anywhere in the benchmark", not an
    occurrence product.  The eval gram set is broadcast — the training
    corpus is never shuffled by the join.

    ``join_on_hash`` (the default, and the production path) joins on
    ``xxhash64(gram)`` instead of the gram string: a 5-gram averages ~40
    bytes where the hash is 8, so the broadcast table, the hash-probe keys
    and the eval-side distinct all shrink ~5×, and probe equality becomes
    one int64 compare instead of a byte-wise string compare.  A 64-bit
    collision between two *distinct* grams that both additionally cross
    the train/eval boundary is the only way the count can differ — with
    |eval grams| ≈ 10⁶–10⁸ the birthday bound keeps that below ~10⁻⁴ per
    corpus, and ``tests/test_contamination.py`` asserts hash-join ==
    string-join per-doc counts on the fixtures.  ``join_on_hash=False``
    keeps the exact string equi-join as the audit path.
    """
    from ..session import spread

    def gram(df: DataFrame) -> DataFrame:
        toks = F.split(F.col(text_col), " ")
        # Docs shorter than n words have no n-grams (shingles() would emit a
        # truncated gram; the oracle's generate_series emits none — filter
        # keeps the two engines aligned).
        # r11: spread before the shingle explode — the per-row gram build +
        # hash is this operator's dominant map cost and otherwise runs on
        # the source's partitioning (one task off a single-file scan).
        return spread(df, "doc_id").filter(F.size(toks) >= n).select(
            "doc_id", F.explode(shingles(toks, n)).alias("g")
        )
    t = gram(train)
    e = gram(eval_docs)
    if join_on_hash:
        # Hash BEFORE the distinct: the eval-side dedup then shuffles
        # 8-byte ints, not gram strings.
        t = t.select("doc_id", F.xxhash64("g").alias("gh"))
        eval_grams = e.select(F.xxhash64("g").alias("gh")).distinct()
        key = "gh"
    else:
        eval_grams = e.select("g").distinct()
        key = "g"
    return (
        t.join(F.broadcast(eval_grams), key)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


@register(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(w[i:i+{DECONTAM_NGRAM - 1}], ' ') AS g
        FROM toks, unnest(generate_series(1, len(w) - {DECONTAM_NGRAM - 1})) AS t(i)
    ),
    eval_grams AS (
        SELECT DISTINCT g FROM grams
        WHERE source IN {EVAL_SOURCES!r}
    )
    SELECT tr.doc_id AS doc_id, COUNT(*) AS n_hit_ngrams
    FROM (SELECT doc_id, g FROM grams WHERE source NOT IN {EVAL_SOURCES!r}) tr
    JOIN eval_grams ev USING (g)
    GROUP BY tr.doc_id
    ORDER BY doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing ≥1 verbatim 5-gram with the eval shards,
    with the count of distinct shared grams — the flag-or-drop input of
    benchmark decontamination."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    return decontaminate_hits(docs.filter(~is_eval), docs.filter(is_eval)).orderBy(
        "doc_id"
    )


@pandas_udf(
    StructType(
        [
            StructField("n_grams", LongType()),
            StructField("mx", LongType()),
            StructField("nd", LongType()),
        ]
    )
)
def _bigram_multiset_stats(texts: pd.Series) -> pd.DataFrame:
    """Arrow-batched per-document bigram multiset profile: total bigram
    occurrences, max multiplicity, distinct count."""
    from collections import Counter

    out: dict[str, list[int]] = {"n_grams": [], "mx": [], "nd": []}
    for t in texts:
        w = t.split(" ")
        c = Counter(zip(w, w[1:]))
        out["n_grams"].append(max(len(w) - 1, 0))
        out["mx"].append(max(c.values()) if c else 0)
        out["nd"].append(len(c))
    return pd.DataFrame(out)


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document bigram repetition ratios (Gopher repetition rules).

    **Zero shuffles.** Every output is a function of one document's bigram
    multiset, so no cross-row movement is ever needed; the operator is a
    narrow projection that parallelises embarrassingly at any corpus size.
    Three implementations were measured at sf0.1 (fresh lineage, best of
    3): explode → groupBy(doc, gram) → groupBy(doc) = 2.1 s (codegen'd,
    but ships one shuffle row per bigram occurrence); pure higher-order
    functions (array_sort + run-length ``aggregate``) = 5.8 s (HOFs are
    interpreted, ~3 passes per row); Arrow-batched Pandas UDF with a
    per-doc ``Counter`` = **0.65 s** — vectorised transfer, one pass,
    nothing on the wire.  The ratio division/rounding stays JVM-side so
    the floats match the oracle exactly as before.
    """
    toks = F.split(F.col(text_col), " ")
    s = _bigram_multiset_stats(F.col(text_col))
    return (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", s.alias("s"))
        .select(
            "doc_id",
            F.col("s.n_grams").alias("n_grams"),
            F.round(F.col("s.mx") / F.col("s.n_grams"), 6).alias("top_gram_frac"),
            F.round(F.lit(1.0) - F.col("s.nd") / F.col("s.n_grams"), 6).alias(
                "dup_gram_frac"
            ),
        )
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g
        FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)
    ),
    cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_gram_frac,
           ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_gram_frac
    FROM cnt
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: total bigram
    occurrences, top-bigram occupancy, and duplicate-bigram fraction."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


_EVAL_IN_LIST = "(" + ", ".join(repr(s) for s in EVAL_SOURCES) + ")"


def _fuzzy_decontaminate_portable_oracle() -> str:
    from .dedup import _JACCARD_SQL, MINHASH_PORTABLE_CTES

    return f"""
    WITH {MINHASH_PORTABLE_CTES},
    side AS (
        SELECT doc_id, source IN {_EVAL_IN_LIST} AS is_eval FROM documents
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bucket a JOIN bucket b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT CASE WHEN ea.is_eval THEN v.id_b ELSE v.id_a END AS train_doc_id,
           CASE WHEN ea.is_eval THEN v.id_a ELSE v.id_b END AS eval_doc_id,
           v.jaccard
    FROM verified v
    JOIN side ea ON ea.doc_id = v.id_a
    JOIN side eb ON eb.doc_id = v.id_b
    WHERE v.jaccard >= 0.7 AND ea.is_eval <> eb.is_eval
    ORDER BY train_doc_id, eval_doc_id
    """


_FUZZY_ORACLE = _fuzzy_decontaminate_portable_oracle()


@register("text_decontaminate_fuzzy", oracle=_FUZZY_ORACLE)
@register("text_decontaminate_fuzzy_portable", oracle=_FUZZY_ORACLE)
def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination: training documents that are
    near-duplicates of an eval document (MinHash-LSH candidates, exact
    Jaccard ≥ 0.7 verify) — the tier the exact n-gram overlap
    (``text_decontaminate``) cannot see once an eval item has been
    paraphrased, re-wrapped or lightly edited (the Llama-style MinHash
    decontamination recipe).

    Composes ``minhash_near_dups`` over the full corpus, then keeps only
    pairs that CROSS the train/eval boundary — the banding, candidate
    bounding and verify plan (and its scale posture) are exactly the
    dedup family's; only the boundary filter and the flag orientation
    (which side is the training doc) are new.

    Output: one row per (train doc, matching eval doc) with the exact
    Jaccard — downstream either drops the doc or audits the match.  The
    banding hashes with ``portable_hash60``, so the oracle replays
    candidate generation, the Jaccard ≥ 0.7 verify and the train/eval
    orientation end-to-end in SQL.  Registered under both names.
    """
    from .dedup import minhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, threshold=0.7)
    src = docs.select("doc_id", F.col("source").isin(*EVAL_SOURCES).alias("is_eval"))
    flagged = (
        pairs.join(src.toDF("id_a", "eval_a"), "id_a")
        .join(src.toDF("id_b", "eval_b"), "id_b")
        .filter(F.col("eval_a") != F.col("eval_b"))
        .select(
            F.when(F.col("eval_a"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("train_doc_id"),
            F.when(F.col("eval_a"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("eval_doc_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    return flagged.orderBy("train_doc_id", "eval_doc_id")

