"""Deduplication family over the ``documents`` table (north star §2.10).

Five tiers, each the idiomatic Spark shape for its scale:

* **Exact** — hash-groupBy on the dedup key (one shuffle, map-side
  partial).
* **Keyed latest** — windowed ``row_number`` (one shuffle on the key).
* **Fingerprint** — md5 of normalised text, then exact dedup on the
  digest; narrow per-row hashing.
* **MinHash + LSH** — shingle hashing JVM-side (:func:`portable_hash60`
  in codegen), the k-way min-reduction as an Arrow-vectorized Pandas UDF,
  then banding → explode(b bands) → self-join on (band, band_hash) for
  candidates → exact-Jaccard verification on shingle sets.  The only
  shuffles are the band-bucket join and final distinct; signature cost
  is O(k·|shingles|) numpy per row, embarrassingly parallel.
* **SimHash** — 60-bit per-row signature (token hashes JVM-side, bit
  voting vectorized in numpy); near-dup buckets share a signature
  block, verified by ``bit_count(xor)`` Hamming distance.

Candidate generation hashes with :func:`portable_hash60` only
(md5-derived, fixed constants): deterministic across runs and
executors, and identical in DuckDB, so every near-dup tier's strict
oracle replays banding/blocking end-to-end — not just the verify stage.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..registry import register
from ..sources.fixtures import load_table

def quadratic_scope_guard(
    df: DataFrame, max_rows: int, operator: str, scale_path: str
) -> DataFrame:
    """Hard scope guard for the O(n²) ground-truth audit tiers (VERDICT
    r07 task 7).  The all-pairs operators are DOCUMENTED as bounded
    oracles, but nothing stopped a caller from pointing one at an
    unbounded table — this raises before the cross join can run.
    ``limit(max_rows+1).count()`` keeps the check O(max_rows), never a
    full scan."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{operator} is an O(n²) ground-truth audit tier hard-bounded "
            f"to {max_rows} input rows (got >{max_rows}); at scale run "
            f"{scale_path} instead and use this tier only to audit recall "
            "on bounded samples"
        )
    return df


# ---------------------------------------------------------------------------
# library: exact / keyed / fingerprint
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact dedup = dropDuplicates(cols): hash-partition on the key,
    keep one row per group.  Catalyst plans map-side partial dedup before
    the shuffle, so wire cost is O(distinct), not O(rows)."""
    return df.dropDuplicates(cols)


def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))


def portable_hash60(col: Column) -> Column:
    """60-bit hash both Spark and DuckDB compute identically: the last 15
    hex chars of ``md5`` parsed as an integer.  Spark: ``conv(substring(
    md5(s), 18, 15), 16, 10)``; DuckDB: ``('0x' || substr(md5(s), 18,
    15))::BIGINT``.  15 hex chars = 60 bits < 2^63, so the signed cast is
    exact on both engines.  The one hash of every near-dup candidate
    generator (MinHash shingles and band keys, SimHash tokens,
    winnowing tokens), so each tier is FULLY SQL-replayable by its strict
    oracle.  Per call it costs more than ``xxhash64``, yet those queries
    measured no slower with it at 1× (BENCH_r12) and within ±10% either
    way at 10× (BENCH_HEAVY10X c8/c32)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 18, 15), 16, 10).cast(
        "long"
    )


#: DuckDB expression mirroring :func:`portable_hash60` (``{s}`` = input).
PORTABLE_HASH60_SQL = "(('0x' || substr(md5({s}), 18, 15))::BIGINT)"


def fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalised text (md5 because both
    Spark and standard SQL engines implement it identically, making the
    digest portable across systems)."""
    return F.md5(normalize_text(col))


# ---------------------------------------------------------------------------
# library: MinHash + LSH
# ---------------------------------------------------------------------------

#: MinHash parameters: k = bands * rows-per-band.
MINHASH_K = 64
LSH_BANDS = 16
LSH_ROWS = MINHASH_K // LSH_BANDS

#: The k permutations are the Carter–Wegman 2-universal family
#: ``h_i(x) = (a_i·x + b_i) mod p`` over the prime p = 2^31−1, with
#: ``x = portable_hash60 mod p``, ``a_i ∈ [1, p)`` and ``b_i ∈ [0, p)``
#: (seeded, stable).  Every operand is below 2^31, so a·x+b < 2^62: no
#: long overflow, which ANSI mode (Spark 4 default) and DuckDB reject.
#: Multipliers and modulus must share the prime: with multipliers far
#: below the modulus, a·x+b wraps at most once, the k "permutations"
#: keep nearly the same order and pick the same minimum shingle, and
#: P(candidate) falls to ≈ J instead of the banded S-curve.
MINHASH_P = (1 << 31) - 1
_rng = random.Random(42)
MINHASH_A = tuple(_rng.randrange(1, MINHASH_P) for _ in range(MINHASH_K))
MINHASH_B = tuple(_rng.randrange(0, MINHASH_P) for _ in range(MINHASH_K))


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array — built entirely with
    higher-order functions (sequence/transform/slice/concat_ws): narrow,
    codegen'd, no UDF."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))
    )


_A_NP = np.array(MINHASH_A, dtype=np.uint64)
_B_NP = np.array(MINHASH_B, dtype=np.uint64)


@pandas_udf(ArrayType(LongType()))
def _minhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """Vectorized MinHash: given each row's shingle hashes, compute the
    k-wide signature sig[i] = min over shingles of
    ``(A[i]*x + B[i]) mod p`` with ``x = h mod p`` (see ``MINHASH_P``).
    The k×m reduction is one numpy broadcast per row — Arrow batches keep
    Python overhead per-batch, not per-row.  Every operand is < 2^31, so
    a*x+b < 2^62 and uint64 arithmetic is exact (no wraparound)."""
    p = np.uint64(MINHASH_P)
    out = []
    for h in hashes:
        if h is None or len(h) == 0:
            out.append(np.zeros(MINHASH_K, dtype=np.int64))
            continue
        x = np.asarray(h, dtype=np.int64).astype(np.uint64) % p
        sig = (_A_NP[:, None] * x[None, :] + _B_NP[:, None]) % p
        out.append(sig.min(axis=1).astype(np.int64))
    return pd.Series(out)


def minhash_signature(sh: Column) -> Column:
    """k-wide MinHash signature per row.  Shingle hashing stays JVM-side
    (:func:`portable_hash60` inside codegen); the k-way min-reduction
    runs as an Arrow-vectorized Pandas UDF (the equivalent pure
    higher-order-function expression tree falls out of codegen and
    evaluates ~50× slower).  Still narrow — no shuffle — so signature
    cost scales linearly at 100 TB."""
    return _minhash_from_hashes(F.transform(sh, portable_hash60))


def minhash_bands(sig: Column) -> Column:
    """Split the signature into LSH bands; each band hashes its slice to a
    single bucket key."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda b: F.struct(
            b.alias("band"),
            portable_hash60(F.concat_ws("_", F.transform(
                F.slice(sig, b * LSH_ROWS + 1, LSH_ROWS), lambda v: v.cast("string")
            ))).alias("bucket"),
        ),
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Skinny LSH band table ``(id, band, bucket)``: narrow shingle →
    signature → banding, exploded per band.  The shared front half of the
    full-corpus candidate pass AND the persisted index
    (:func:`minhash_index_write`)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    toks = F.split(normalize_text(F.col(text_col)), " ")
    sh_df = df.repartition(parallelism, F.col(id_col)).select(
        F.col(id_col).alias("id"), shingles(toks, n).alias("sh")
    )
    # Two-step projection: the Pandas-UDF signature must be a materialized
    # column before the banding lambda can reference it (Spark disallows
    # Python UDFs inside higher-order-function lambdas).
    sigs = sh_df.select("id", minhash_signature(F.col("sh")).alias("sig"))
    return sigs.select(
        "id", F.explode(minhash_bands(F.col("sig"))).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket.

    Plan: narrow signature/banding → explode(bands) into a *skinny*
    (id, band, bucket) table → groupBy(band, bucket) + collect_list(id) →
    generate in-bucket pairs → distinct → re-attach each side's shingle
    set by id.  Three load-bearing choices at scale:

    * the banded table is skinny — the ×LSH_BANDS explode and the bucket
      shuffle move 3 scalar columns, never the shingle arrays (those are
      joined in only for the far-fewer candidate pairs);
    * buckets come from ONE groupBy instead of a self-join, so the
      signature subtree (scan → shingle → Pandas-UDF MinHash) is computed
      once, not once per join side;
    * the corpus is explicitly repartitioned before the per-row signature
      work, so embarrassingly-parallel hashing actually uses the cluster
      even when the source is a handful of large files.

    Bucket pair-generation is quadratic in bucket size by LSH design
    (buckets are tiny); a pathological bucket (e.g. empty-text documents
    all hashing identically) is the same hazard as a skewed join key and
    should be pre-filtered upstream.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    banded = banded_signatures(df, id_col, text_col, n)
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    in_bucket_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(in_bucket_pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified: candidates from banding,
    confirmed by exact Jaccard on the shingle sets (no false positives).

    Each side's shingle set is materialised once per document (narrow
    projection) and joined onto the candidate pairs — computing shingles
    inline per pair is a trap: Catalyst duplicates the expression across
    intersect/union and filter/project, turning one shingle pass into
    four per pair (measured ~30× slower on a dup-dense corpus).

    Verification shingles ONLY candidate docs (the ``minhash_index_probe``
    semi-join lesson, back-ported r11): without the pre-filter the verify
    stage re-shingles and re-shuffles the WHOLE corpus's shingle arrays
    through both joins even though only candidate ids are ever compared.
    ``pairs`` is lazily localCheckpoint-ed first — it forks into the
    candidate-id filter AND the verify joins, and an un-cut lineage would
    re-run the signature/banding subtree once per fork."""
    pairs = minhash_candidates(df, id_col, text_col, n).localCheckpoint(
        eager=False
    )
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    cand = df.join(cand_ids, id_col, "left_semi")
    toks = F.split(normalize_text(F.col(text_col)), " ")
    # Repartition before the per-row shingle work for the same reason as in
    # minhash_candidates: parallelise even off a single-file source.
    # r12 (guide §1.2): sh_df is joined TWICE (sh_a and sh_b sides) and its
    # subtree contains the candidate-id semi-join — i.e. a second
    # consumption of the lazily-checkpointed `pairs`, whose concurrent
    # stages re-ran the whole signature/banding subtree before the
    # checkpoint cache filled.  One lazy checkpoint of the skinny
    # (id, shingles) relation computes it once; interleaved A/B (outputs
    # asserted identical): pretrain_data_pipeline 12.78 → 7.05 s,
    # dedup_neardup_pipeline 3.57 → 3.23, dedup_minhash_lsh 1.82 → 1.59.
    sh_df = cand.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    ).select(
        F.col(id_col).alias("id"), shingles(toks, n).alias("sh")
    ).localCheckpoint(eager=False)
    return (
        pairs.join(sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> None:
    """Persist the corpus's LSH band table as the near-dup INDEX: the
    skinny ``(id, band, bucket)`` rows are all a future batch needs to
    find its candidates — signatures are never recomputed for the corpus,
    and the raw text is only consulted for verification of candidate ids
    (index-as-table, the same contract as the IVF/PQ tiers)."""
    banded_signatures(df, id_col, text_col, n).write.mode(
        "overwrite"
    ).parquet(path)


def minhash_index_probe(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Incremental NEAR-dup: tonight's batch against the stored corpus
    index.  The batch computes its own band table (narrow, O(|batch|));
    candidates come from an equi-join against the persisted skinny index —
    the corpus pays no signature work at probe time, and its text is
    re-attached ONLY for the candidate ids (semi-join economics, the
    winnow lesson).  Returns verified ``(batch_id, corpus_id, jaccard)``
    pairs at ``jaccard ≥ threshold``.

    Completes the dedup matrix: exact×full (``dedup_exact``),
    exact×incremental (``dedup_incremental``), near×full
    (``minhash_near_dups``), near×incremental (this)."""
    b_banded = banded_signatures(batch, id_col, text_col, n).select(
        F.col("id").alias("batch_id"), "band", "bucket"
    )
    index = spark.read.parquet(path).select(
        F.col("id").alias("corpus_id"), "band", "bucket"
    )
    pairs = (
        b_banded.join(index, ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    toks = F.split(normalize_text(F.col(text_col)), " ")

    def sh_of(src: DataFrame, alias: str) -> DataFrame:
        return src.select(
            F.col(id_col).alias(alias), shingles(toks, n).alias(f"sh_{alias}")
        )

    # Shingle ONLY corpus docs that appear in a candidate pair (semi-join
    # pre-filter): without it the verify stage re-shingles the whole
    # corpus — the exact trap the winnow operator measured at ~30×.
    corpus_cand = corpus.join(
        pairs.select(F.col("corpus_id").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    return (
        pairs.join(F.broadcast(sh_of(batch, "batch_id")), "batch_id")
        .join(sh_of(corpus_cand, "corpus_id"), "corpus_id")
        .withColumn(
            "jaccard", F.round(jaccard(F.col("sh_batch_id"), F.col("sh_corpus_id")), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


#: The 64 fixed MinHash permutations inlined as a VALUES list so DuckDB
#: can replay the signature computation end-to-end (the JL sign-matrix
#: precedent from r10's sim_topk_lsh conversion).
_PERM_VALUES_SQL = ",\n        ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
)

_NORM_SPLIT_SQL = (
    "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)

def minhash_portable_ctes(src: str = "documents") -> str:
    """CTE chain replaying shingles → portable base hashes mod p → 64
    permuted minima → band buckets in DuckDB, over any source relation
    with (doc_id, text) columns.  Ends at ``bucket`` (doc_id, band,
    bucket) and also exposes ``sh`` (doc_id, shingle set) for the
    exact-Jaccard verify — the oracle core for every portable-hash LSH
    tier (full-corpus pairs, incremental probe, fuzzy decontamination,
    the pretrain funnel's near-dup stage)."""
    return f"""docs_n AS (
        SELECT doc_id, {_NORM_SPLIT_SQL} AS w FROM {src}
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i:i+2], ' ')
                              for i in range(1, greatest(len(w) - 1, 2))]) AS sh
        FROM docs_n
    ),
    shex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    hp AS (
        SELECT doc_id,
               {PORTABLE_HASH60_SQL.format(s='s')} % {MINHASH_P} AS h
        FROM shex
    ),
    perm(i, a, b) AS (VALUES
        {_PERM_VALUES_SQL}),
    sig AS (
        SELECT doc_id, i, MIN((a * h + b) % {MINHASH_P}) AS s
        FROM hp, perm GROUP BY doc_id, i
    ),
    bucket AS (
        SELECT doc_id, i // {LSH_ROWS} AS band,
               {PORTABLE_HASH60_SQL.format(
                   s="string_agg(s::VARCHAR, '_' ORDER BY i)")} AS bucket
        FROM sig GROUP BY doc_id, i // {LSH_ROWS}
    )"""


#: The default (whole ``documents`` table) instantiation.
MINHASH_PORTABLE_CTES = minhash_portable_ctes()

#: Exact-Jaccard verify between two shingle sets from the ``sh`` CTE.
_JACCARD_SQL = (
    "ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)"
    " / len(list_distinct(list_concat(sa.sh, sb.sh))), 6)"
)


# ---------------------------------------------------------------------------
# library: SimHash
# ---------------------------------------------------------------------------


#: SimHash signature width: the bits of a :func:`portable_hash60` token
#: hash, so every bit of the signature is live.
SIMHASH_BITS = 60


@pandas_udf(LongType())
def _simhash_from_hashes(hashes: pd.Series) -> pd.Series:
    """Vectorized 60-bit SimHash: bit j of the signature is set iff
    Σ over tokens of (+1 if bit j of the token's hash is set else −1)
    is positive.  Per row: unpack the m×60 bit matrix with one shift
    broadcast, column-sum, threshold — O(60·m) numpy ops."""
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    res = np.zeros(len(hashes), dtype=np.int64)
    for i, h in enumerate(hashes):
        if h is None or len(h) == 0:
            continue
        hu = np.asarray(h, dtype=np.int64).astype(np.uint64)
        ones = ((hu[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
        pos = (2 * ones.astype(np.int64) - len(hu)) > 0
        res[i] = (pos.astype(np.uint64) << shifts).sum(dtype=np.uint64).astype(np.int64)
    return pd.Series(res)


def simhash(tokens: Column) -> Column:
    """60-bit SimHash per row: token hashing JVM-side
    (:func:`portable_hash60`, so DuckDB recomputes the same signature),
    the 60-way bit-vote as an Arrow-vectorized Pandas UDF (a pure
    expression formulation duplicates the per-bit aggregate 60× after
    Catalyst inlining — measured ~100× slower).  Narrow — no shuffle at
    any scale."""
    return _simhash_from_hashes(F.transform(tokens, portable_hash60))


def simhash_near_dups_multiprobe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dups with block-decomposition probing — the 100 TB
    variant, with *provably complete* recall.

    Pigeonhole (Manku/Jain/Sarma, WWW'07 §3): split the 60-bit signature
    into ``max_hamming + 1`` contiguous blocks (widths differ by at most
    one bit); two signatures within ``max_hamming`` differing bits can
    spoil at most ``max_hamming`` blocks, so AT LEAST ONE block is
    bit-identical.  Bucketing on every
    ``(block_index, block_value)`` key therefore surfaces every qualifying
    pair — unlike prefix rotation, which only samples probe positions.

    Plan shape: one narrow explode to |docs|·(k+1) skinny rows
    ``(block_idx, block_val, id, sig)``, one equi-join on the composite
    bucket key (sort-merge/AQE like any keyed join — never all-pairs),
    pair-level ``dropDuplicates`` (a pair can match in several blocks),
    exact ``bit_count(xor)`` verify on candidates only.  Collision noise
    per bucket is ~n/2^width; with k=3 → four 15-bit blocks.
    """
    from ..session import spread

    n_blocks = max_hamming + 1
    cuts = [i * SIMHASH_BITS // n_blocks for i in range(n_blocks + 1)]

    toks = F.split(normalize_text(F.col(text_col)), " ")
    # r11: spread before the signature expression (one task off a single-
    # file scan otherwise — the portable-hash tier's md5 chain made this
    # the query's dominant cost), and checkpoint the skinny block table so
    # the self-join's two sides share one materialisation instead of
    # recomputing every signature per side.
    sigs = spread(df, id_col).select(
        F.col(id_col).alias("id"), simhash(toks).alias("sig")
    )
    blocks = sigs.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sig"), lo).bitwiseAND(
                        F.lit((1 << (hi - lo)) - 1)
                    )
                    for lo, hi in zip(cuts, cuts[1:])
                ]
            )
        ).alias("block_idx", "block_val"),
        # eager (r12): the self-join's two sides are CONCURRENT stages, so
        # a lazy checkpoint still raced both into recomputing the
        # signature chain before the cache filled (the minhash sh_df
        # finding) — eager guarantees one signature pass.
    ).localCheckpoint(eager=True)
    a = blocks.select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "block_idx", "block_val"
    )
    b = blocks.select(
        F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "block_idx", "block_val"
    )
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT text AS text, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with keeper election: one row per distinct text, keeping
    the smallest doc_id — the deterministic form of dropDuplicates."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


@register(
    "dedup_keyed_latest",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM (
        SELECT event_id, user_id, ts, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keyed_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-scoped latest-record dedup: newest event per user via windowed
    row_number — the standard CDC-compaction shape (one shuffle on the
    key; skew on hot users handled by AQE)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


@register(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: md5 over normalised text, grouped.  The digest is
    what you persist at 100 TB — dedup across ingestion batches becomes a
    join on a 16-byte key instead of on raw text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies")
    )


#: Fixture stand-in for "tonight's ingest batch": two of the twenty
#: ``source`` shards; everything else is the already-ingested corpus.
INCREMENTAL_BATCH_SOURCES = ("src0", "src1")

#: SQL IN-list built explicitly (not tuple ``!r``): a 1-element Python
#: tuple reprs as ``('src0',)`` — invalid SQL — so the oracle must not
#: depend on the tuple length staying >= 2.
_BATCH_IN_LIST = "(" + ", ".join(repr(s) for s in INCREMENTAL_BATCH_SOURCES) + ")"


@register(
    "dedup_incremental",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    corpus AS (SELECT DISTINCT fp FROM fp
               WHERE source NOT IN {_BATCH_IN_LIST}),
    batch AS (SELECT doc_id, fp FROM fp
              WHERE source IN {_BATCH_IN_LIST}),
    novel AS (
        SELECT b.doc_id, b.fp FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    )
    SELECT doc_id, fp FROM novel n
    WHERE doc_id = (SELECT MIN(doc_id) FROM novel n2 WHERE n2.fp = n.fp)
    ORDER BY doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the realistic nightly shape:
    tonight's ingest keeps only documents whose content fingerprint is
    (a) absent from the already-ingested corpus (anti-join on the 16-byte
    digest, never on raw text) and (b) first-seen within the batch itself
    (min doc_id per fingerprint).

    Scale: the corpus side reduces to DISTINCT fingerprints before the
    anti-join — at 100 TB that is the persisted fingerprint table from
    :func:`dedup_fingerprint`, not a rescan — and the join shuffles only
    16-byte keys.  The within-batch keeper election windows over the
    (small) novel batch, partitioned by fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint(F.col("text")).alias("fp")
    is_batch = F.col("source").isin(*INCREMENTAL_BATCH_SOURCES)
    corpus_fps = docs.filter(~is_batch).select(fp).distinct()
    batch = docs.filter(is_batch).select("doc_id", fp)
    novel = batch.join(corpus_fps, "fp", "left_anti")
    # Keeper election = min doc_id per fingerprint: a plain aggregate
    # (map-side partial min) — cheaper than a row_number window sort.
    return (
        novel.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


_INCREMENTAL_NEARDUP_PORTABLE_ORACLE = f"""
    WITH {MINHASH_PORTABLE_CTES},
    side AS (
        SELECT doc_id, source IN {_BATCH_IN_LIST} AS is_batch FROM documents
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM bucket b
        JOIN bucket c ON b.band = c.band AND b.bucket = c.bucket
        JOIN side sb ON sb.doc_id = b.doc_id
        JOIN side sc ON sc.doc_id = c.doc_id
        WHERE sb.is_batch AND NOT sc.is_batch
    ),
    verified AS (
        SELECT cand.batch_id, cand.corpus_id, {_JACCARD_SQL} AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.batch_id
        JOIN sh sb ON sb.doc_id = cand.corpus_id
    )
    SELECT batch_id, corpus_id, jaccard FROM verified WHERE jaccard >= 0.5
    ORDER BY batch_id, corpus_id
"""


@register(
    "dedup_incremental_neardup", oracle=_INCREMENTAL_NEARDUP_PORTABLE_ORACLE
)
@register(
    "dedup_incremental_neardup_portable",
    oracle=_INCREMENTAL_NEARDUP_PORTABLE_ORACLE,
)
def dedup_incremental_neardup_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental near-dup — tonight's ingest batch (src0/src1) probed
    against the STORED corpus band index: batch-side signatures only,
    candidates from the skinny index join, Jaccard verify on candidate
    text (probe == direct cross-group pairs is asserted in tests).  The
    DuckDB oracle replays the batch-vs-corpus banding (bucket collisions
    restricted to batch×corpus pairs) plus the exact-Jaccard verify —
    certifying the index-write/probe split end-to-end, not just the
    verify stage.  Registered under both names."""
    import os

    from ..fsutil import process_staging_dir

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("source").isin(*INCREMENTAL_BATCH_SOURCES)
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)
    path = process_staging_dir(
        f"mhindex_{os.path.basename(os.path.normpath(sf_dir))}",
        "minhash_bands",
    )
    minhash_index_write(corpus, path)
    return minhash_index_probe(
        spark, path, batch, corpus, threshold=0.5
    ).orderBy("batch_id", "corpus_id")


_MINHASH_PORTABLE_ORACLE = f"""
    WITH {MINHASH_PORTABLE_CTES},
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
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_PORTABLE_ORACLE)
@register("dedup_minhash_lsh_portable", oracle=_MINHASH_PORTABLE_ORACLE)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at Jaccard ≥ 0.5 (verified, so the LSH
    stage only affects recall, never precision), with the banding
    REPLAYED END-TO-END by the DuckDB oracle.

    Constants: k=64, 16×4 banding, 2-universal permutations mod 2^31−1;
    every hash site (shingle base hash, band-bucket key) is
    :func:`portable_hash60` (md5-derived, identical in both engines).
    The oracle recomputes shingles → base hashes mod p → 64 permuted
    minima → band buckets → colliding pairs → exact-Jaccard verification
    in pure SQL, so the strict hash check covers the ENTIRE
    candidate-generation logic — banding recall included — not just the
    verify stage.  Registered under both names."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=0.5)


_SIMHASH_PORTABLE_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NORM_SPLIT_SQL}) AS t FROM documents
    ),
    h AS (
        SELECT doc_id, {PORTABLE_HASH60_SQL.format(s='t')} AS h FROM toks
    ),
    votes AS (
        SELECT doc_id, j,
               SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, range({SIMHASH_BITS}) r(j) GROUP BY doc_id, j
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END) AS sig
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_PORTABLE_ORACLE)
@register("dedup_simhash_portable", oracle=_SIMHASH_PORTABLE_ORACLE)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with a strict SQL oracle — possible because the
    block-decomposition probe has PROVABLY COMPLETE recall (pigeonhole:
    ≤3 differing bits cannot spoil all 4 blocks), so the final answer is
    exactly "all pairs at Hamming ≤ 3", independent of how the blocking
    found them.  The oracle recomputes each document's 60-bit signature
    (per-bit majority vote over :func:`portable_hash60` token hashes)
    and checks every pair directly; quadratic for DuckDB at sf0.01 (500
    docs), while the Spark side keeps the bucketed multiprobe join it
    runs at scale.  Registered under both names."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dups_multiprobe(docs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH scoped AS (
        SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM documents WHERE doc_id < 100
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, greatest(len(w) - 1, 2))]) AS sh
        FROM scoped
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.01
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs over a bounded scope (doc_id <
    100): the ground-truth near-dup measure the LSH tiers approximate.
    All-pairs is O(n²) by construction — the scope bound is the honest way
    to run it; at scale you run `dedup_minhash_lsh` instead and use this
    only to audit recall on samples.  The guard makes the bound HARD:
    >1000 input rows raises before the cross join executes."""
    docs = quadratic_scope_guard(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100),
        1000,
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
    )
    toks = F.split(normalize_text(F.col("text")), " ")
    sh = docs.select(F.col("doc_id").alias("id"), shingles(toks, 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("jaccard", F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 6))
        .filter(F.col("jaccard") >= 0.01)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "jaccard")
    )


@register(
    "dedup_approx_distinct",
    # HLL estimates are engine-specific, so the strict row is the
    # CERTIFICATE (VERDICT r08 task 3): exact per-day counts plus
    # booleans asserting the HLL estimate landed inside the tolerance
    # band (4×rsd relative, min 2 absolute) — the oracle recomputes the
    # exact counts and expects every band check TRUE.
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS exact_types,
           TRUE AS users_within_tol,
           TRUE AS types_within_tol
    FROM events GROUP BY 1 ORDER BY day
    """,
)
def dedup_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts (users, event types per
    day) — the constant-memory cardinality sketch for 100 TB streams —
    upgraded from rows-only to a strict certificate: one pass computes
    BOTH the HLL estimate and the exact distinct count per day, and the
    registered row carries the exact counts plus within-tolerance
    booleans.  A broken sketch emits FALSE and hash-mismatches; at scale
    the exact column is dropped and the estimate stands alone."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date").alias("day")
    # Exact twins as separate pre-deduped two-stage aggs joined back on
    # day, NOT two countDistincts in one agg: multiple distinct
    # aggregates force an Expand (3x the scan through the shuffle);
    # distinct()+count keeps partial aggregation and measured ~3.5x
    # faster at sf0.1.  The day dimension is tiny, so the joins are
    # broadcast-able by AQE.
    agg = events.groupBy(day).agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.approx_count_distinct("event_type", 0.02).alias("approx_types"),
    )
    exact_u = (
        events.select(day, "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    exact_t = (
        events.select(day, "event_type")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("exact_types"))
    )
    agg = agg.join(exact_u, "day").join(exact_t, "day")

    def band(approx: str, exact: str):
        tol = F.greatest(F.lit(2.0), F.lit(0.08) * F.col(exact))
        return F.abs(F.col(approx) - F.col(exact)) <= tol

    return agg.select(
        "day",
        "exact_users",
        "exact_types",
        band("approx_users", "exact_users").alias("users_within_tol"),
        band("approx_types", "exact_types").alias("types_within_tol"),
    ).orderBy("day")


_NEARDUP_PIPELINE_PORTABLE_ORACLE = f"""
    WITH RECURSIVE {MINHASH_PORTABLE_CTES},
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
    edges AS (SELECT u, v FROM verified UNION SELECT v, u FROM verified),
    reach AS (
        SELECT doc_id AS id, doc_id AS r FROM documents
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
    keep AS (SELECT component, MIN(id) AS keeper_id FROM comp GROUP BY component)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN comp.id = keep.keeper_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keepers,
           ROUND(CAST(SUM(CASE WHEN comp.id = keep.keeper_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS yield_frac
    FROM documents d
    JOIN comp ON comp.id = d.doc_id
    JOIN keep USING (component)
    GROUP BY d.source
    ORDER BY d.source
"""


@register("dedup_neardup_pipeline", oracle=_NEARDUP_PIPELINE_PORTABLE_ORACLE)
@register(
    "dedup_neardup_pipeline_portable", oracle=_NEARDUP_PIPELINE_PORTABLE_ORACLE
)
def dedup_neardup_pipeline_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate dedup — the composed production pipeline:
    MinHash-LSH verified pairs → connected components (a doc transitively
    linked to a dup cluster must not survive alongside its twin) → keeper
    election (min doc_id per component) → per-source yield accounting.

    The oracle replays all of it: portable-hash candidate generation and
    the Jaccard verify, a recursive-CTE component closure, keeper
    election and per-source yield — so the certificate covers that the
    operators compose (id spaces line up, singleton docs survive as
    their own keeper).  Scale posture is inherited: banded candidate
    generation (no self-join), components with plan-DAG truncation, and
    O(sources) final reduce.  Registered under both names."""
    from .graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dups(docs, threshold=0.5)
    nodes = docs.select(F.col("doc_id").alias("id"))
    comp = connected_components(
        nodes, pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # r12: keeper == component (components returns the min reachable id),
    # so a keeper groupBy + join would re-derive an existing column.
    labeled = docs.join(comp, docs.doc_id == comp.id).withColumn(
        "is_keeper", (F.col("doc_id") == F.col("component")).cast("int")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_keeper").alias("n_keepers"),
            F.round(F.sum("is_keeper") / F.count(F.lit(1)), 6).alias("yield_frac"),
        )
        .orderBy("source")
    )


@register(
    "dedup_hll_sketch_union",
    # DataSketches HLL isn't ANSI-SQL, so the strict row is the
    # certificate (VERDICT r08 task 3): exact distinct-fingerprint
    # counts per source and globally (md5 of normalised text — the same
    # portable digest dedup_fingerprint's oracle uses), plus a boolean
    # asserting each estimate (including the union-of-stored-sketches
    # row) landed within 5% / min-2 of exact.
    oracle="""
    WITH fps AS (
        SELECT source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT source, CAST(COUNT(DISTINCT fp) AS BIGINT) AS exact_distinct,
           TRUE AS within_tol
    FROM fps GROUP BY source
    UNION ALL
    SELECT '__union__', CAST(COUNT(DISTINCT fp) AS BIGINT), TRUE FROM fps
    ORDER BY source
    """,
)
def dedup_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-fingerprint sketches — the incremental pattern
    behind corpus-wide distinct counting at 100 TB: each ingest batch (or
    partition, or day) persists an ``hll_sketch_agg`` sketch of its
    content fingerprints; any rollup — global, per-source, per-month — is
    an ``hll_union_agg`` over stored sketches with NO rescan of the data.
    Output: per-source rows plus the union-of-sketches global row
    (``source='__union__'``), each carrying the exact distinct count and
    a within-tolerance boolean for the sketch estimate — upgraded from
    rows-only to strict: the union row's boolean certifies the MERGE
    path (estimate from unioned stored sketches vs exact global), which
    a broken union would fail."""
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("source", fingerprint(F.col("text")).alias("fp"))
    per_source = fps.groupBy("source").agg(
        F.expr("hll_sketch_agg(fp)").alias("sk"),
        F.countDistinct("fp").alias("exact_distinct"),
    )
    per_rows = per_source.select(
        "source",
        "exact_distinct",
        F.expr("hll_sketch_estimate(sk)").alias("est_distinct"),
    )
    union_row = per_source.agg(
        F.lit("__union__").alias("source"),
        F.lit(None).cast("long").alias("exact_distinct"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_distinct"),
    )
    exact_global = fps.agg(
        F.lit("__union__").alias("source"),
        F.countDistinct("fp").alias("exact_global"),
    )
    union_fixed = union_row.join(exact_global, "source").select(
        "source",
        F.col("exact_global").alias("exact_distinct"),
        "est_distinct",
    )
    tol = F.greatest(F.lit(2.0), F.lit(0.05) * F.col("exact_distinct"))
    return (
        per_rows.unionByName(union_fixed)
        .select(
            "source",
            "exact_distinct",
            (F.abs(F.col("est_distinct") - F.col("exact_distinct")) <= tol)
            .alias("within_tol"),
        )
        .orderBy("source")
    )


@register(
    "events_audience_overlap_hll",
    # HLL set algebra: |A∩B| estimated by inclusion-exclusion over three
    # mergeable sketches (A, B, A∪B) — the constant-memory audience-
    # overlap query.  Strict certificate: the oracle recomputes the exact
    # per-day audience sizes and overlap from the (day, user) grain and
    # expects every tolerance boolean TRUE.
    oracle="""
    WITH per_user AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        FROM events GROUP BY 1, 2
    )
    SELECT day,
           CAST(SUM(v) AS BIGINT) AS exact_viewers,
           CAST(SUM(b) AS BIGINT) AS exact_buyers,
           CAST(SUM(v * b) AS BIGINT) AS exact_overlap,
           TRUE AS viewers_within_tol, TRUE AS buyers_within_tol,
           TRUE AS overlap_within_tol
    FROM per_user GROUP BY day ORDER BY day
    """,
)
def events_audience_overlap_hll(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap via HLL inclusion-exclusion: |viewers ∩ buyers|
    per day estimated from three mergeable sketches — |A| + |B| − |A∪B|
    — the pattern that answers "how many users did both X and Y" over
    100 TB without ever materialising either user set (sketches merge
    across shards/days; the union sketch is just the conditional HLL
    over A∪B's rows).

    Strict certificate (dedup_approx_distinct pattern): the exact twins
    come from ONE (day, user) pre-aggregation with boolean flags — no
    countDistinct Expand — and the registered row carries exact values
    plus tolerance booleans.  The overlap band is the compounded error
    of three estimates (4·rsd each on |A|, |B|, |A∪B|), floored at 3
    absolute.  At scale the exact twin drops and the estimate stands
    alone."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date").alias("day")
    is_v = F.col("event_type") == "view"
    is_b = F.col("event_type") == "purchase"
    # conditional HLLs: approx_count_distinct ignores nulls, so the
    # when() projections sketch exactly the qualifying users — one pass,
    # regular (non-distinct) aggregates, no Expand
    sk = events.groupBy(day).agg(
        F.approx_count_distinct(
            F.when(is_v, F.col("user_id")), 0.02
        ).alias("est_a"),
        F.approx_count_distinct(
            F.when(is_b, F.col("user_id")), 0.02
        ).alias("est_b"),
        F.approx_count_distinct(
            F.when(is_v | is_b, F.col("user_id")), 0.02
        ).alias("est_u"),
    )
    per_user = (
        events.groupBy(day, "user_id")
        .agg(
            F.max(is_v.cast("int")).alias("v"),
            F.max(is_b.cast("int")).alias("b"),
        )
        .groupBy("day")
        .agg(
            F.sum("v").cast("long").alias("exact_viewers"),
            F.sum("b").cast("long").alias("exact_buyers"),
            F.sum(F.col("v") * F.col("b")).cast("long").alias("exact_overlap"),
        )
    )
    out = sk.join(per_user, "day")
    est_overlap = F.col("est_a") + F.col("est_b") - F.col("est_u")

    def band(est, exact, scale):
        tol = F.greatest(F.lit(3.0), F.lit(0.08) * scale)
        return F.abs(est - exact) <= tol

    return out.select(
        "day",
        "exact_viewers",
        "exact_buyers",
        "exact_overlap",
        band(F.col("est_a"), F.col("exact_viewers"), F.col("exact_viewers")).alias(
            "viewers_within_tol"
        ),
        band(F.col("est_b"), F.col("exact_buyers"), F.col("exact_buyers")).alias(
            "buyers_within_tol"
        ),
        band(
            est_overlap,
            F.col("exact_overlap"),
            F.col("exact_viewers") + F.col("exact_buyers") + F.lit(0.0),
        ).alias("overlap_within_tol"),
    ).orderBy("day")


@register(
    "dedup_cluster_size_histogram",
    # Dedup REPORTING grain: the distribution of exact-duplicate cluster
    # sizes - the first chart any dedup run is judged by (how much mass
    # sits in big clusters vs singletons).
    oracle=r"""
    WITH clusters AS (
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM documents GROUP BY 1
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(1000000 * size * COUNT(*)
                // (SELECT COUNT(*) FROM documents) AS BIGINT)
               AS corpus_share_ppm
    FROM clusters GROUP BY size ORDER BY size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup cluster-size histogram: documents group into clusters by
    normalized-text fingerprint; this reports, per cluster size, how many
    clusters and documents sit there plus each size's share of the corpus
    — the summary every dedup run is reviewed by (a heavy ≥10-size tail
    means boilerplate; all-singletons means the dedup found nothing).

    Plan: the shuffle key is the 16-byte md5 fingerprint, never raw text
    (the ``dedup_fingerprint`` posture); the second groupBy runs on
    O(distinct sizes) rows and the corpus total broadcasts.  Integer
    counts, one ppm division."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(
        fingerprint(F.col("text")).alias("fp")
    ).agg(F.count(F.lit(1)).alias("size"))
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        clusters.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .join(F.broadcast(total))
        .select(
            "size",
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).alias("n_docs"),
            F.expr(
                "1000000 * size * n_clusters div n_total"
            ).alias("corpus_share_ppm"),
        )
        .orderBy("size")
    )


# ---------------------------------------------------------------------------
# Canonicalized exact dedup (normalization tier)
# ---------------------------------------------------------------------------


def canonicalize_text(col: Column) -> Column:
    """Dedup canonical form: lowercase, strip non-alphanumerics to
    spaces, collapse runs, trim — the normalization that catches the
    re-crawled page whose only delta is casing/punctuation/whitespace,
    which byte-exact dedup misses entirely.  Pure builtin expressions;
    the canonical string never needs to be stored — only its hash keys
    the groupBy."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def dedup_canonical(docs: DataFrame) -> DataFrame:
    """Exact dedup on the canonical form: one row per canonical class
    that has >1 member, keeper = min doc_id, plus how many of the class
    members were byte-distinct (the normalization's catch over plain
    exact dedup).  One hash aggregation on the canonical-hash key."""
    classes = docs.select(
        "doc_id",
        portable_hash60(canonicalize_text(F.col("text"))).alias("h"),
        F.col("text"),
    )
    return (
        classes.groupBy("h")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("text").alias("n_distinct_raw"),
        )
        .filter(F.col("n_copies") > 1)
        .select("keeper_id", "n_copies", "n_distinct_raw")
        .orderBy("keeper_id")
    )


_CANON_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)

_CANON_ORACLE = f"""
WITH classes AS (
    SELECT doc_id, {PORTABLE_HASH60_SQL.format(s=_CANON_SQL)} AS h, text
    FROM documents
)
SELECT MIN(doc_id) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_raw
FROM classes
GROUP BY h
HAVING COUNT(*) > 1
ORDER BY keeper_id
"""


@register("dedup_canonical_exact", oracle=_CANON_ORACLE)
def dedup_canonical_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over case/punctuation/whitespace-normalized text."""
    return dedup_canonical(load_table(spark, sf_dir, "documents"))
