"""Text-analysis operators over the ``documents`` table (north star §2.10).

Everything here is builtin-function Spark (JVM-side, codegen'd): token
counting, quality scoring, language profiling, and a stopword-hit
language-ID heuristic.  Where the semantics are shared with the DuckDB
oracle (stoplists, regexes, tie-breaks), the constants live once in this
module and both the Spark builder and the generated oracle SQL derive from
them — the only way to keep two engines bit-identical.

Scale: all per-document ops are narrow (no shuffle); the profile
aggregations shuffle on low-cardinality keys (5 langs / 20 sources), so
the reduce side is O(groups) regardless of corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ..registry import register
from ..sources.fixtures import load_table
from .dedup import fingerprint, normalize_text, portable_hash60

#: Words treated as stopwords for quality scoring (subset of the fixture
#: vocabulary so ratios are non-degenerate).
STOPWORDS = ("the", "a", "of", "and", "in", "to")

#: Per-language "signature" word lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately tiny and deterministic; real deployments swap in
#: proper char-n-gram profiles — the *operator shape* (per-row scoring +
#: argmax with a stable tie-break) is what matters at scale.
LANG_SIGNATURES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "fast", "slow"),
    "es": ("data", "table", "row", "order"),
    "de": ("group", "window", "stream", "batch"),
    "fr": ("query", "filter", "merge", "join"),
    "zh": ("spark", "hash", "scan", "sort"),
}

#: "BPE-ish" token regex: runs of letters, runs of digits, or any single
#: non-space symbol — a crude approximation of byte-pair pretokenisation.
BPE_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_bpe_tokens,
           n_chars AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts per document.

    Pure narrow projection — the scan reads only (doc_id, text, n_chars)
    (column pruning) and no shuffle occurs at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_REGEX)).alias("n_bpe_tokens"),
        F.col("n_chars").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               string_split(text, ' ') AS toks,
               len(replace(text, ' ', '')) AS n_nonspace,
               len(regexp_replace(text, '[a-z ]', '', 'g')) AS n_nonalpha
        FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(n_nonspace AS DOUBLE) / len(toks), 6) AS avg_token_len,
           ROUND(CAST(n_nonalpha AS DOUBLE) / n_chars, 6) AS symbol_ratio,
           ROUND(CAST(len(list_filter(toks, x -> x IN ({_sql_in_list(STOPWORDS)}))) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           CAST(len(toks) BETWEEN 10 AND 1000
                AND CAST(len(list_filter(toks, x -> x IN ({_sql_in_list(STOPWORDS)}))) AS DOUBLE)
                    / len(toks) > 0.01 AS INT) AS is_quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: token count, mean token length, symbol
    ratio, stopword ratio, and a composite keep/drop flag — the standard
    pre-training corpus filters (length + stopword density), all as
    builtin expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_nonalpha = F.length(F.regexp_replace(F.col("text"), "[a-z ]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    )
    stopword_ratio = stop_hits.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(n_nonspace.cast("double") / n_tokens, 6).alias("avg_token_len"),
        F.round(n_nonalpha.cast("double") / F.col("n_chars"), 6).alias("symbol_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        (n_tokens.between(10, 1000) & (stopword_ratio > 0.01))
        .cast("int")
        .alias("is_quality"),
    )


# ---------------------------------------------------------------------------
# language ID + per-language profile
# ---------------------------------------------------------------------------


def _lang_hit_exprs():
    toks = F.split(F.col("text"), " ")

    def hit_count(words):
        # array_intersect (distinct signature words present), NOT a
        # filter() lambda counting occurrences: higher-order-function
        # lambdas evaluate interpreted per element — ~2× slower on the
        # same data — while array_intersect is a plain native expression.
        # Distinct-hit scoring is also the more robust argmax signal (one
        # spammed signature word can't swing the vote).
        return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))

    return {lang: hit_count(words) for lang, words in LANG_SIGNATURES.items()}


def _lang_id_case_sql() -> str:
    """CASE chain picking the max-hit language, ties broken by lang name
    ascending — generated so Spark and DuckDB share one tie-break rule."""
    langs = sorted(LANG_SIGNATURES)
    clauses = []
    for lang in langs:
        conds = [
            f"h_{lang} >= h_{other}" if other > lang else f"h_{lang} > h_{other}"
            for other in langs
            if other != lang
        ]
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " END"


def _lang_hits_sql() -> str:
    # list_intersect == Spark array_intersect: distinct common elements.
    cols = ", ".join(
        f"len(list_intersect(string_split(text, ' '), [{_sql_in_list(w)}])) AS h_{lang}"
        for lang, w in sorted(LANG_SIGNATURES.items())
    )
    return f"SELECT doc_id, lang, {cols} FROM documents"


@register(
    "text_lang_id",
    oracle=f"""
    WITH h AS ({_lang_hits_sql()})
    SELECT doc_id, lang AS labeled_lang, {_lang_id_case_sql()} AS predicted_lang
    FROM h
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language DISTINCT signature-word hits,
    argmax with lexicographic tie-break.  Narrow per-row op; the scoring
    is a fixed-width expression tree, so cost is O(rows) at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    hits = _lang_hit_exprs()
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[expr.alias(f"h_{lang}") for lang, expr in hits.items()],
    )
    return scored.select(
        "doc_id", "labeled_lang", F.expr(_lang_id_case_sql()).alias("predicted_lang")
    )


@register(
    "text_lang_profile",
    oracle=f"""
    SELECT lang AS lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language: doc/source counts, token totals.
    Shuffle key cardinality = #languages → reduce side is constant-size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# rolling-hash document fingerprinting (north star: "document
# fingerprinting (rolling hash)")
# ---------------------------------------------------------------------------

#: Rabin-Karp parameters.  Modulus 2^31-1 keeps every intermediate product
#: (< 2^31 · < 2^31) inside uint64, so the numpy path needs no 128-bit math.
RH_BASE = 1_000_003
RH_MOD = (1 << 31) - 1
#: Window length in tokens for the sliding fingerprints.
RH_WINDOW = 8


def _rolling_fps(token_hashes, window: int):
    """Doc fingerprint + all w-token window fingerprints for one document.

    The window hashes are computed with the true rolling update —
    ``H' = (H - t_out·B^(w-1))·B + t_in  (mod M)`` — one multiply-add per
    step regardless of window length, which is the property that makes
    winnowing-style fingerprinting O(n) per document at corpus scale.
    """
    b_pow = pow(RH_BASE, window - 1, RH_MOD)
    doc_fp = 0
    h = 0
    fps = []
    for i, t in enumerate(token_hashes):
        t = int(t) % RH_MOD
        doc_fp = (doc_fp * RH_BASE + t) % RH_MOD
        if i < window:
            h = (h * RH_BASE + t) % RH_MOD
            if i == window - 1:
                fps.append(h)
        else:
            t_out = int(token_hashes[i - window]) % RH_MOD
            h = ((h - t_out * b_pow) * RH_BASE + t) % RH_MOD
            fps.append(h)
    return doc_fp, fps


def _token_hashes(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id_col, th)``: the normalised text's token hashes
    (:func:`portable_hash60`, JVM-side) — the input of every Rabin-Karp
    scan below."""
    from ..session import spread

    toks = F.split(normalize_text(F.col(text_col)), " ")
    # r11: spread before the token-hash projection + Python boundary —
    # one core / one Python worker off a single-file scan otherwise.
    return spread(docs, id_col).select(
        F.col(id_col), F.transform(toks, portable_hash60).alias("th")
    )


def rolling_fingerprint_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    window: int = RH_WINDOW,
) -> DataFrame:
    """Per-document rolling-hash fingerprints: a whole-document polynomial
    fingerprint plus min/max/count over the sliding w-token window hashes
    (the min is winnowing's selected fingerprint).  Token hashing is
    JVM-side (:func:`_token_hashes`); the sequential rolling scan runs in
    a Pandas UDF (it is inherently order-dependent, so no builtin
    expresses it) — still narrow, no shuffle."""
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("doc_fp", LongType()),
            StructField("n_windows", LongType()),
            StructField("min_window_fp", LongType()),
            StructField("max_window_fp", LongType()),
        ]
    )

    # mapInPandas, NOT a struct-returning pandas_udf: expanding a UDF
    # struct into its fields duplicates the ArrowEvalPython node (the UDF
    # literally ran twice per row — visible in .explain and ~2× the
    # measured cost); mapInPandas evaluates the rolling scan exactly once
    # and emits flat columns.
    def roll(batches):
        for pdf in batches:
            rows = []
            for h in pdf["th"]:
                if h is None or len(h) == 0:
                    rows.append((0, 0, None, None))
                    continue
                doc_fp, fps = _rolling_fps(h, window)
                rows.append(
                    (
                        doc_fp,
                        len(fps),
                        min(fps) if fps else None,
                        max(fps) if fps else None,
                    )
                )
            out = pd.DataFrame(
                rows,
                columns=["doc_fp", "n_windows", "min_window_fp", "max_window_fp"],
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return _token_hashes(docs, id_col, text_col).mapInPandas(
        roll, schema=out_schema
    )


@register(
    "text_rolling_fingerprint",
    # STRICT certificate (r11, VERDICT r10 task 4): the registered row
    # carries the one value the oracle recomputes without replaying the
    # Rabin-Karp scan — the window count from the shared
    # normalisation/tokenisation — plus in-band booleans proving the
    # rolling recurrence: the O(1)-update hash of the LAST window must
    # equal its direct polynomial evaluation (a wrong b_pow, a dropped
    # mod, or an off-by-one window slide all flip it), fingerprints stay
    # inside [0, 2^31-1), and min <= max over the window set.  The raw
    # fingerprint table remains available via rolling_fingerprint_table.
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(trim(regexp_replace(lower(text),
                   '\s+', ' ', 'g')), ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(GREATEST(n - {RH_WINDOW} + 1, 0) AS BIGINT) AS n_windows,
           TRUE AS fp_in_range, TRUE AS min_le_max,
           TRUE AS roll_matches_direct
    FROM t ORDER BY doc_id
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint certificate over ``documents``: per doc
    the window count (oracle-recomputed from the token count) and three
    invariants of the Rabin-Karp scan, all computed in the SAME Arrow
    pass as the production fingerprints."""
    docs = load_table(spark, sf_dir, "documents")

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_windows", LongType()),
            StructField("fp_in_range", BooleanType()),
            StructField("min_le_max", BooleanType()),
            StructField("roll_matches_direct", BooleanType()),
        ]
    )

    def certify(batches):
        for pdf in batches:
            rows = []
            for h in pdf["th"]:
                if h is None or len(h) == 0:
                    rows.append((0, True, True, True))
                    continue
                doc_fp, fps = _rolling_fps(h, RH_WINDOW)
                in_range = 0 <= doc_fp < RH_MOD and all(
                    0 <= f < RH_MOD for f in fps
                )
                min_le_max = (not fps) or min(fps) <= max(fps)
                if fps:
                    # direct polynomial of the LAST window — the rolled
                    # value must agree exactly
                    last = h[len(h) - RH_WINDOW :]
                    direct = 0
                    for t in last:
                        direct = (direct * RH_BASE + int(t) % RH_MOD) % RH_MOD
                    roll_ok = fps[-1] == direct
                else:
                    roll_ok = True
                rows.append((len(fps), in_range, min_le_max, roll_ok))
            out = pd.DataFrame(
                rows,
                columns=[
                    "n_windows",
                    "fp_in_range",
                    "min_le_max",
                    "roll_matches_direct",
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return (
        _token_hashes(docs, "doc_id", "text")
        .mapInPandas(certify, schema=out_schema)
        .orderBy("doc_id")
    )


def winnow_near_dup_candidates(docs: DataFrame) -> DataFrame:
    """Winnowing-fingerprint near-dup candidates (the MOSS recipe): docs
    sharing a selected (min) window fingerprint are candidate pairs,
    verified by exact shingle Jaccard.  A different recall profile from
    MinHash banding — winnowing guarantees any shared run ≥ window+noise
    tokens produces a shared fingerprint, so it catches *contained*
    near-dups (quote/boilerplate reuse) that whole-document signatures
    dilute.  Plan shape mirrors the MinHash path: narrow fingerprints →
    skinny groupBy-bucket pairing on the fingerprint → jaccard verify on
    candidate pairs only."""
    from .dedup import jaccard, normalize_text, shingles

    fps = rolling_fingerprint_table(docs).filter(
        F.col("min_window_fp").isNotNull()
    )
    buckets = (
        fps.groupBy("min_window_fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Materialise shingle sets ONLY for documents that appear in some
    # candidate pair (semi-join pre-filter), then join them onto the
    # pairs.  This adapts to dup density: a sparse corpus (245 pairs at
    # sf0.1) shingles a few hundred docs instead of all of them — the
    # whole-corpus precompute burned ~4 s of the query's ~5 s — while a
    # dup-dense corpus (a 10× replicated run produced 235 k pairs) is
    # bounded by ONE shingle pass over the involved docs; the inline
    # per-pair alternative re-evaluates the shingle expression 4× per
    # pair (Catalyst duplicates it across intersect/union/filter) and
    # measured 296 s on the same input.
    ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
    )
    from ..session import spread

    sh_needed = spread(
        docs.join(ids, "doc_id", "left_semi"), "doc_id"
    ).select(
        F.col("doc_id").alias("id"),
        shingles(F.split(normalize_text(F.col("text")), " "), 3).alias("sh"),
    )
    return (
        cand.join(
            sh_needed.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh_needed.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= 0.01)
        .select("id_a", "id_b", "jaccard")
    )


def _winnow_portable_oracle() -> str:
    from .dedup import PORTABLE_HASH60_SQL

    w = RH_WINDOW
    ph = PORTABLE_HASH60_SQL.format(s="t")
    return rf"""
    WITH docs_n AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents
    ),
    th AS (
        SELECT doc_id, w,
               list_transform(w, t -> {ph} % {RH_MOD}) AS th
        FROM docs_n
    ),
    fps AS (
        SELECT doc_id,
               list_min([list_reduce(th[j:j+{w - 1}],
                                     (a, b) -> (a * {RH_BASE} + b) % {RH_MOD})
                         for j in range(1, len(th) - {w - 2})]) AS min_fp
        FROM th WHERE len(th) >= {w}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fps a JOIN fps b
          ON a.min_fp = b.min_fp AND a.doc_id < b.doc_id
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i:i+2], ' ')
                              for i in range(1, greatest(len(w) - 1, 2))]) AS sh
        FROM docs_n
    ),
    verified AS (
        SELECT c.id_a, c.id_b,
               ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.sh, sb.sh))), 6)
                   AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.01
    """


_WINNOW_ORACLE = _winnow_portable_oracle()


@register("text_winnow_candidates", oracle=_WINNOW_ORACLE)
@register("text_winnow_candidates_portable", oracle=_WINNOW_ORACLE)
def text_winnow_candidates_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup candidates (see
    :func:`winnow_near_dup_candidates`): token hashes come from
    ``portable_hash60`` (reduced mod 2^31−1), so the DuckDB oracle
    replays the whole recipe — per-window Rabin-Karp fingerprints as
    Horner ``list_reduce`` windows (the rolling-update recurrence equals
    the direct polynomial, pinned by text_rolling_fingerprint's
    certificate), winnowing's min-fingerprint selection, fingerprint
    bucketing, and the exact-Jaccard verify.  Registered under both
    names."""
    return winnow_near_dup_candidates(load_table(spark, sf_dir, "documents"))


@register(
    "text_curation_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               string_split(text, ' ') AS toks,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    q AS (
        SELECT doc_id, lang, fp, len(toks) AS n_tokens,
               CAST(len(toks) BETWEEN 10 AND 1000
                    AND CAST(len(list_filter(toks, x -> x IN ({{stoplist}}))) AS DOUBLE)
                        / len(toks) > 0.01 AS INT) AS is_quality
        FROM t
    ),
    d AS (
        SELECT q.*,
               ROW_NUMBER() OVER (
                   PARTITION BY fp, is_quality ORDER BY doc_id) AS rn
        FROM q
    )
    SELECT lang,
           CAST(SUM(CASE WHEN is_quality = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq,
           CAST(SUM(CASE WHEN is_quality = 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN is_quality = 1 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN is_quality = 1 AND rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM d GROUP BY lang ORDER BY lang
    """.replace("{stoplist}", _sql_in_list(STOPWORDS)),
)
def text_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation pass: quality gate (length +
    stopword density) → exact dedup on the content fingerprint (keeper =
    min doc_id) → per-language yield accounting (kept / low-quality /
    duplicate docs, kept tokens).

    One narrow projection computes flags and fingerprints, ONE shuffle
    (window on the fingerprint) resolves duplicates, and the final
    aggregation reduces to O(languages) rows — the whole curation funnel
    costs a single wide pass at any corpus size.  This is the query shape a
    100 TB pre-training ingest runs nightly; its components are audited
    individually by text_quality / dedup_fingerprint / text_lang_profile.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    is_quality = (
        n_tokens.between(10, 1000)
        & (stop_hits.cast("double") / n_tokens > 0.01)
    ).cast("int")
    flagged = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        fingerprint(F.col("text")).alias("fp"),
        is_quality.alias("is_quality"),
    )
    w = Window.partitionBy("fp", "is_quality").orderBy("doc_id")
    ranked = flagged.withColumn("rn", F.row_number().over(w))
    lowq = F.when(F.col("is_quality") == 0, 1).otherwise(0)
    dup = F.when((F.col("is_quality") == 1) & (F.col("rn") > 1), 1).otherwise(0)
    kept = F.when((F.col("is_quality") == 1) & (F.col("rn") == 1), 1).otherwise(0)
    return (
        ranked.groupBy("lang")
        .agg(
            F.sum(lowq).alias("n_lowq"),
            F.sum(dup).alias("n_dup"),
            F.sum(kept).alias("n_kept"),
            F.sum(kept * F.col("n_tokens")).alias("tokens_kept"),
        )
        .orderBy("lang")
    )


@register(
    "text_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    )
    SELECT term, COUNT(*) AS n
    FROM toks
    WHERE term NOT IN ({{stoplist}}) AND len(term) > 2
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT 20
    """.replace("{stoplist}", _sql_in_list(STOPWORDS)),
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: tokenize → explode → stopword/length filter
    → count → top-20 (deterministic tie-break on the term).  The explode
    multiplies rows by tokens-per-doc, but the groupBy's map-side partial
    collapses them before the shuffle — wire cost is O(|vocabulary|), not
    O(|tokens|); the final top-k is a TakeOrdered, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")), " "
    )
    return (
        docs.select(F.explode(toks).alias("term"))
        .filter(~F.col("term").isin(*STOPWORDS) & (F.length("term") > 2))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

#: Gopher rule thresholds (Rae et al. 2021, table A1).  The word-count
#: bounds are fixture-scaled (the synthetic docs are ~50-word soups; the
#: published 50..100k bound would keep everything) — the *rule shape* and
#: the two-engine expression parity are what the operator certifies.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 1000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n_words,
               len(replace(text, ' ', '')) AS n_nonspace,
               len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_words,
               CAST(n_nonspace AS DOUBLE) / n_words AS mean_word_len,
               CAST(n_symbols AS DOUBLE) / n_words AS symbol_word_ratio,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS DOUBLE) / n_words AS alpha_word_frac,
               len(list_filter(toks, x -> x IN ({_sql_in_list(STOPWORDS)})))
                   AS stopword_hits
        FROM t
    )
    SELECT doc_id, n_words,
           ROUND(mean_word_len, 6) AS mean_word_len,
           ROUND(symbol_word_ratio, 6) AS symbol_word_ratio,
           ROUND(alpha_word_frac, 6) AS alpha_word_frac,
           CAST(stopword_hits AS BIGINT) AS stopword_hits,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
                AND symbol_word_ratio < {GOPHER_MAX_SYMBOL_RATIO}
                AND alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}
                AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS} AS INT) AS keep
    FROM r
    ORDER BY doc_id
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule gate (Rae et al. 2021 table A1): word-count
    bounds, mean word length, symbol-to-word ratio, alphabetic-word
    fraction, minimum stopword hits — the standard pre-training keep/drop
    battery, one narrow builtin-expression pass (no shuffle at any corpus
    size; the final ORDER BY is presentation-only)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / n_words
    sym_ratio = F.regexp_count(F.col("text"), F.lit("#|\\.\\.\\.")).cast(
        "double"
    ) / n_words
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double") / n_words
    )
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            F.round(mean_wl, 6).alias("mean_word_len"),
            F.round(sym_ratio, 6).alias("symbol_word_ratio"),
            F.round(alpha_frac, 6).alias("alpha_word_frac"),
            stop_hits.cast("bigint").alias("stopword_hits"),
            keep.cast("int").alias("keep"),
        )
        .orderBy("doc_id")
    )


#: Vocabulary size for the coverage metric (the fixture vocabulary has ~31
#: distinct words, so 20 leaves a non-degenerate OOV tail; production uses
#: the tokenizer's actual vocab table).
VOCAB_TOP_V = 20


@register(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    vocab AS (SELECT term FROM freq ORDER BY c DESC, term ASC LIMIT {VOCAB_TOP_V}),
    oov AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_oov FROM tok
        WHERE term NOT IN (SELECT term FROM vocab)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(string_split(d.text, ' ')) AS n_tokens,
           COALESCE(o.n_oov, 0) AS n_oov,
           ROUND(CAST(COALESCE(o.n_oov, 0) AS DOUBLE)
                 / len(string_split(d.text, ' ')), 6) AS oov_frac
    FROM documents d LEFT JOIN oov o USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / out-of-vocabulary rate per document — the
    tokenizer-design metric: share of token occurrences NOT covered by the
    corpus' top-V vocabulary (in production, by the tokenizer's actual
    vocab table).

    Scale: the vocab is an O(V) aggregate (map-side combined term counts,
    TakeOrdered — no global sort) and joins the exploded token stream as a
    **broadcast anti-join**, so the corpus-side explode never shuffles for
    membership; the only corpus-keyed shuffle is the per-doc OOV count on
    ``doc_id``.  Deterministic vocab boundary: count desc, term asc.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(VOCAB_TOP_V)
        .select("term")
    )
    oov = (
        tok.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (
        docs.join(oov, "doc_id", "left")
        .select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.round(
                F.coalesce(F.col("n_oov"), F.lit(0)).cast("double") / n_tokens, 6
            ).alias("oov_frac"),
        )
        .orderBy("doc_id")
    )


def compression_ratio(docs: DataFrame) -> DataFrame:
    """Compression-ratio quality signal: DEFLATE(text) length over raw
    length, in ppm — the cheap, language-agnostic boilerplate detector
    every large-scale web-corpus pipeline runs (highly repetitive /
    templated pages compress far below natural prose, near-random noise
    compresses above it; both tails get filtered).  zlib level is pinned
    (6) so the byte count — and therefore the signal — is deterministic.

    Arrow-batched ``mapInPandas`` (the byte-level codec is inherently
    per-row Python, batched like the multimodal decoders); one narrow
    (doc_id, text) scan, output is O(rows) ints."""

    def gen(batches):
        import zlib

        for pdf in batches:
            if pdf.empty:
                continue
            raw = pdf["text"].str.encode("utf-8")
            out = pdf[["doc_id"]].copy()
            out["raw_len"] = raw.str.len().astype("int64")
            out["comp_len"] = [
                len(zlib.compress(b, 6)) for b in raw
            ]
            out["ratio_ppm"] = (
                out["comp_len"] * 1_000_000 // out["raw_len"].clip(lower=1)
            ).astype("int64")
            yield out

    from ..session import spread

    # r11: spread before the Python boundary — the zlib work is per-row
    # Python and otherwise runs in ONE worker off a single-file scan.
    return spread(docs.select("doc_id", "text"), "doc_id").mapInPandas(
        gen, "doc_id long, raw_len long, comp_len long, ratio_ppm long"
    )


@register(
    "text_compression_ratio",
    # DuckDB can't DEFLATE, so the strict row is a CERTIFICATE (VERDICT
    # r09 task 5, the dedup_approx_distinct pattern): the exact raw byte
    # length the oracle recomputes, plus booleans pinning codec-path
    # invariants the oracle expects TRUE — a broken codec hash-mismatches.
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_len,
           TRUE AS comp_in_bounds, TRUE AS roundtrip_ok,
           TRUE AS doubling_ok
    FROM documents ORDER BY doc_id
    """,
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict certificate over :func:`compression_ratio`: per document the
    exact UTF-8 byte length (oracle: ``strlen``) plus three in-band
    booleans computed in the SAME Arrow pass —

    * ``comp_in_bounds``: 8 ≤ len(first-copy stream) ≤ raw +
      5·⌈raw/16383⌉ + 11 (the DEFLATE stored-block worst case plus the
      zlib header and the full-flush marker);
    * ``roundtrip_ok``: inflate of the whole stream == text‖text bytes;
    * ``doubling_ok``: the SECOND copy's deflate bytes ≤ the first
      copy's for texts ≥ 64 B (LZ77 must find the repeat — texts are far
      under the 32 KiB window), vacuously TRUE below.

    One ``compressobj`` stream serves all three: deflate(text) →
    ``Z_FULL_FLUSH`` (the first-copy length, byte-aligned) → deflate(text
    again) → finish.  The repeated copy rides the first pass's LZ77
    window, so the old standalone ``compress(text‖text)`` pass — a full
    second deflate of the doubled input — is gone (VERDICT r10 task 5:
    1.03 s → target ≤0.7 s, certificate columns and oracle unchanged).

    The production signal (``ratio_ppm``) comes from
    :func:`compression_ratio`; the registered row carries only
    oracle-recomputable values so the hash compare stays strict."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches):
        import zlib

        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf[["doc_id"]].copy()
            raws = pdf["text"].str.encode("utf-8")
            raw_len, in_bounds, roundtrip, doubling = [], [], [], []
            for b in raws:
                obj = zlib.compressobj(6)
                c1 = obj.compress(b) + obj.flush(zlib.Z_FULL_FLUSH)
                c2 = obj.compress(b) + obj.flush()
                bound = len(b) + 5 * (len(b) // 16383 + 1) + 11
                raw_len.append(len(b))
                in_bounds.append(8 <= len(c1) <= bound)
                roundtrip.append(zlib.decompress(c1 + c2) == b + b)
                doubling.append(len(b) < 64 or len(c2) <= len(c1))
            out["raw_len"] = raw_len
            out["comp_in_bounds"] = in_bounds
            out["roundtrip_ok"] = roundtrip
            out["doubling_ok"] = doubling
            yield out

    from ..session import spread

    # r11: spread before the Python boundary (32 zlib workers, not 1).
    return spread(docs, "doc_id").mapInPandas(
        gen,
        "doc_id long, raw_len long, comp_in_bounds boolean, "
        "roundtrip_ok boolean, doubling_ok boolean",
    ).orderBy("doc_id")


@register(
    "text_hapax_rate",
    # corpus-frequency classes per source: hapax legomena (freq 1), dis
    # (freq 2), rest — the lexical-richness screen; integer counts, one
    # ppm division
    oracle=r"""
    WITH toks AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE term <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dis,
           CAST(1000000 * SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS hapax_ppm,
           CAST(1000000 * COUNT(*) // SUM(f) AS BIGINT) AS ttr_ppm
    FROM freq
    GROUP BY source
    ORDER BY source
    """,
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: hapax/dis legomena counts,
    hapax share of the vocabulary, and type-token ratio — the screen
    that separates natural text (hapax-heavy, Zipfian) from templated or
    duplicated corpora (hapax-starved).  Shares in exact integer ppm via
    floor division.  One tokenize-explode (the established whitespace
    parity contract with the oracle) into a (source, term) count — the
    same shuffle shape as the BM25 df pass; at 100 TB the term-grain
    aggregate is vocabulary-bounded per source."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                ),
                " ",
            )
        ).alias("term"),
    ).where(F.col("term") != "")
    freq = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    hapax = F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
    dis = F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
    types = F.count(F.lit(1))
    return (
        freq.groupBy("source")
        .agg(
            types.cast("long").alias("n_types"),
            F.sum("f").cast("long").alias("n_tokens"),
            hapax.cast("long").alias("n_hapax"),
            dis.cast("long").alias("n_dis"),
            (hapax * 1000000).cast("long").alias("_h6"),
            (types * 1000000).cast("long").alias("_t6"),
        )
        .select(
            "source",
            "n_types",
            "n_tokens",
            "n_hapax",
            "n_dis",
            F.expr("_h6 div n_types").alias("hapax_ppm"),
            F.expr("_t6 div n_tokens").alias("ttr_ppm"),
        )
        .orderBy("source")
    )


@register(
    "text_simpson_diversity",
    # Simpson's index from exact integer frequency sums: D = Σf(f−1) /
    # (N(N−1)) — no per-term float shares, one division at the end
    oracle=r"""
    WITH toks AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE term <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           ROUND(1.0 * SUM(f * (f - 1))
                 / (SUM(f) * (SUM(f) - 1.0)), 6) AS simpson_d,
           ROUND(1.0 - 1.0 * SUM(f * (f - 1))
                 / (SUM(f) * (SUM(f) - 1.0)), 6) AS simpson_diversity
    FROM freq
    GROUP BY source
    ORDER BY source
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's D per source — the probability two random tokens are
    the SAME type (repeat-domination), and its complement 1−D (the
    diversity form).  Unlike entropy this needs no logs: D =
    Σf(f−1)/(N(N−1)) over exact integer frequencies, so the whole stat
    is integer sums plus one division — the concentration companion to
    the hapax profile on the same (source, term) rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                ),
                " ",
            )
        ).alias("term"),
    ).where(F.col("term") != "")
    freq = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    rep = F.sum(F.col("f") * (F.col("f") - 1))
    tot = F.sum("f")
    d = F.lit(1.0) * rep / (tot * (tot - F.lit(1.0)))
    return (
        freq.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            tot.cast("long").alias("n_tokens"),
            F.round(d, 6).alias("simpson_d"),
            F.round(F.lit(1.0) - d, 6).alias("simpson_diversity"),
        )
        .orderBy("source")
    )


@register(
    "text_vocab_drift",
    # per-term smoothed log-odds between the two corpus halves: all
    # accumulation is integer (term counts, totals, vocab size); the only
    # float ops are one exact-integer-product division and one ln,
    # identical expression shapes both engines, rounded 6 dp
    oracle=r"""
    WITH toks AS (
        SELECT doc_id % 2 = 0 AS in_a,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT term,
               CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
               CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
        FROM toks WHERE term <> '' GROUP BY 1
    ),
    tot AS (
        SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS v
        FROM freq
    )
    SELECT term, cnt_a, cnt_b,
           ROUND(LN(((cnt_a + 1) * (nb + v))
                    / CAST((cnt_b + 1) * (na + v) AS DOUBLE)), 6) + 0.0
               AS log_odds
    FROM freq, tot
    WHERE cnt_a + cnt_b >= 10
    ORDER BY term
    """,
)
def text_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus halves (doc_id parity stands
    in for the before/after snapshots): per-term counts in each half and
    the Laplace-smoothed log-odds ratio — the monitor that catches a
    changed crawl mix, template injection, or a broken extractor BEFORE
    a tokenizer/model retrain bakes it in.  Terms below 10 total
    occurrences are dropped (noise floor; bounds the report).

    Exactness discipline: counts/totals/vocab size are integers; the
    log-odds is ln of an exact-integer-product ratio ((cnt_a+1)(Nb+V) /
    (cnt_b+1)(Na+V)) — one IEEE division + one ln per row, same shapes
    in the oracle, 6-dp rounded with the −0.0 fold.

    100 TB posture: one tokenize-explode into a term-grain count (the
    BM25 df shuffle shape, vocabulary-bounded output), one broadcast of
    the 3-number totals row; nothing else shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                ),
                " ",
            )
        ).alias("term"),
    ).where(F.col("term") != "")
    freq = toks.groupBy("term").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0))
        .cast("long")
        .alias("cnt_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1))
        .cast("long")
        .alias("cnt_b"),
    )
    tot = freq.agg(
        F.sum("cnt_a").alias("na"),
        F.sum("cnt_b").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    return (
        freq.where(F.col("cnt_a") + F.col("cnt_b") >= 10)
        .join(F.broadcast(tot))
        .select(
            "term",
            "cnt_a",
            "cnt_b",
            (
                F.round(
                    F.log(
                        ((F.col("cnt_a") + 1) * (F.col("nb") + F.col("v")))
                        / (
                            (F.col("cnt_b") + 1)
                            * (F.col("na") + F.col("v"))
                        ).cast("double")
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("log_odds"),
        )
        .orderBy("term")
    )


@register(
    "text_zipf_slope",
    # Zipf power-law fit over the top-100 corpus terms: OLS of ln(freq)
    # on ln(rank).  Natural prose lands near slope -1; templated or
    # synthetic corpora drift off - a one-row corpus-health gauge.
    oracle=r"""
    WITH toks AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text),
               '\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ),
    freq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks WHERE term <> '' GROUP BY term
    ),
    ranked AS (
        SELECT term, f,
               ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rnk
        FROM freq
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(MAX(f) AS BIGINT) AS top_freq,
           ROUND(REGR_SLOPE(ln(f), ln(rnk)), 6) + 0.0 AS zipf_slope,
           ROUND(REGR_INTERCEPT(ln(f), ln(rnk)), 6) + 0.0 AS zipf_intercept,
           ROUND(REGR_R2(ln(f), ln(rnk)), 6) + 0.0 AS fit_r2
    FROM ranked WHERE rnk <= 100
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: regress ln(term frequency) on ln(rank) over the
    top-100 corpus terms.  A natural-language corpus fits a near -1
    slope with high R²; boilerplate-heavy or machine-generated text
    breaks the power law — this is the one-row screen.

    Plan: one token-explode + term groupBy (map-side combined) reduces
    the corpus to its vocabulary; the rank-filter ``row_number() <= 100``
    compiles to WindowGroupLimit (each partition forwards only its own
    top-100 candidates — no full vocab through one task); the regression
    is a single-pass distributive aggregate over 100 rows (the
    ``events_regression_stats`` exactness precedent: ln magnitudes ≤ 12,
    round-6 well above double noise)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
                " ",
            )
        ).alias("term")
    ).filter(F.col("term") != "")
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), "term")
    top = freq.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 100
    )
    lf, lr = F.log(F.col("f").cast("double")), F.log(F.col("rnk").cast("double"))
    return top.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.max("f").alias("top_freq"),
        (F.round(F.regr_slope(lf, lr), 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_intercept(lf, lr), 6) + F.lit(0.0)).alias(
            "zipf_intercept"
        ),
        (F.round(F.regr_r2(lf, lr), 6) + F.lit(0.0)).alias("fit_r2"),
    )


@register(
    "docs_language_confusion_matrix",
    # Classifier evaluation as a first-class op: the lang-id heuristic's
    # confusion matrix against the labeled lang column, with per-cell
    # counts and per-label recall - the eval every curation pipeline runs
    # before trusting a filter model at corpus scale.
    oracle=f"""
    WITH h AS ({_lang_hits_sql()}),
    pred AS (
        SELECT lang AS labeled_lang, {_lang_id_case_sql()} AS predicted_lang
        FROM h
    ),
    cells AS (
        SELECT labeled_lang, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    )
    SELECT labeled_lang, predicted_lang, n,
           CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT)
               AS n_labeled,
           CAST(1000000 * n // SUM(n) OVER (PARTITION BY labeled_lang)
                AS BIGINT) AS row_share_ppm,
           labeled_lang = predicted_lang AS is_correct
    FROM cells
    ORDER BY labeled_lang, predicted_lang
    """,
)
def docs_language_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the ``text_lang_id`` heuristic against the
    corpus's labeled ``lang`` column: per (labeled, predicted) cell the
    count, the labeled-class total, the row-normalised share (recall on
    the diagonal), and the correctness flag.  Evaluating a filter model
    against gold labels IS a pipeline operator at 100 TB — you run it on
    every new corpus slice before trusting the cheap classifier.

    Plan: fixed-width per-row scoring (array_intersect hits, the
    ``text_lang_id`` expression tree), then ONE groupBy on the ≤25-cell
    (labeled, predicted) grain; the per-label window runs over those
    cells only.  Integer counts, one ppm division."""
    docs = load_table(spark, sf_dir, "documents")
    hits = _lang_hit_exprs()
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        *[expr.alias(f"h_{lang}") for lang, expr in hits.items()],
    ).select(
        "labeled_lang", F.expr(_lang_id_case_sql()).alias("predicted_lang")
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_lab = Window.partitionBy("labeled_lang")
    return (
        cells.select(
            "labeled_lang",
            "predicted_lang",
            "n",
            F.sum("n").over(w_lab).alias("n_labeled"),
            F.expr(
                "1000000 * n div sum(n) over (partition by labeled_lang)"
            ).alias("row_share_ppm"),
            (F.col("labeled_lang") == F.col("predicted_lang")).alias(
                "is_correct"
            ),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


@register(
    "docs_dsir_logweight",
    # DSIR-style importance weight (Xie et al. 2023, "Data Selection for
    # Language Models via Importance Resampling"): per-doc log of the
    # target/source likelihood ratio under smoothed unigram LMs - the
    # score you resample raw crawl against to match a target domain
    # (here: lang='en' docs as the target, the rest as the source).
    # Same exactness discipline as text_vocab_drift: integer counts,
    # ln of exact-integer products, multiplicity-weighted sum, 6 dp.
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS in_t,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\s+', ' ', 'g')), ' ')) AS term
        FROM documents
    ),
    doc_tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS m
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    freq AS (
        SELECT term,
               CAST(SUM(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
               CAST(SUM(CASE WHEN in_t THEN 0 ELSE 1 END) AS BIGINT) AS cnt_s
        FROM toks WHERE term <> '' GROUP BY 1
    ),
    tot AS (
        SELECT SUM(cnt_t) AS nt, SUM(cnt_s) AS ns, COUNT(*) AS v FROM freq
    ),
    ratio AS (
        SELECT term,
               LN(((cnt_t + 1) * (ns + v))
                  / CAST((cnt_s + 1) * (nt + v) AS DOUBLE)) AS r
        FROM freq, tot
    )
    SELECT d.doc_id,
           CAST(SUM(d.m) AS BIGINT) AS n_tokens,
           ROUND(SUM(d.m * r.r), 6) + 0.0 AS dsir_logweight,
           SUM(d.m * r.r) > 0 AS target_like
    FROM doc_tf d JOIN ratio r ON r.term = d.term
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def docs_dsir_logweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: ``Σ_t m_t · ln(p_target(t) /
    p_source(t))`` under Laplace-smoothed unigram LMs of the target
    domain (``lang = 'en'``) vs the rest of the corpus — the score behind
    importance-resampling data selection (keep raw-crawl docs with
    probability ∝ exp(weight) to match a target distribution).  Positive
    means more target-like.

    Exactness: per-term ratios are ln of exact-integer products (the
    ``text_vocab_drift`` shape); the per-doc fold is a
    multiplicity-weighted sum of those doubles — magnitudes ≤ ~10³, so
    engine summation order sits far below the 6-dp rounding grain (the
    ``events_regression_stats`` precedent).

    100 TB posture: one tokenize-explode feeds BOTH the term-grain
    frequency table (vocabulary-bounded) and the (doc, term) tf table;
    the ratio table re-joins on term (vocab-sized build side — at corpus
    scale it stays broadcastable after the ≥-floor prune upstream ops
    apply); the final rollup shuffles O(doc × distinct-term) rows once."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("in_t"),
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                ),
                " ",
            )
        ).alias("term"),
    ).where(F.col("term") != "")
    doc_tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("m")
    )
    freq = toks.groupBy("term").agg(
        F.sum(F.when(F.col("in_t"), 1).otherwise(0)).cast("long").alias("cnt_t"),
        F.sum(F.when(F.col("in_t"), 0).otherwise(1)).cast("long").alias("cnt_s"),
    )
    tot = freq.agg(
        F.sum("cnt_t").alias("nt"),
        F.sum("cnt_s").alias("ns"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio = freq.join(F.broadcast(tot)).select(
        "term",
        F.log(
            ((F.col("cnt_t") + 1) * (F.col("ns") + F.col("v")))
            / ((F.col("cnt_s") + 1) * (F.col("nt") + F.col("v"))).cast(
                "double"
            )
        ).alias("r"),
    )
    weighted = doc_tf.join(ratio, "term").groupBy("doc_id").agg(
        F.sum("m").alias("n_tokens"),
        F.sum(F.col("m") * F.col("r")).alias("w"),
    )
    return weighted.select(
        "doc_id",
        "n_tokens",
        (F.round("w", 6) + F.lit(0.0)).alias("dsir_logweight"),
        (F.col("w") > 0).alias("target_like"),
    ).orderBy("doc_id")


@register(
    "text_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_REGEX}'))) AS BIGINT)
               AS n_subword_tokens,
           ROUND(CAST(SUM(len(regexp_extract_all(text, '{BPE_REGEX}')))
                      AS DOUBLE)
                 / SUM(len(string_split(text, ' '))), 6) AS fertility
    FROM documents GROUP BY lang
    """,
)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) by
    language — the standard per-language tokenizer-efficiency metric for
    a multilingual mix (a language with high fertility pays more sequence
    length per word of content).  Exact integer sums per language, one
    final division — deterministic across partitionings.

    Scale: narrow per-row token counting inside codegen, one keyed
    aggregate with map-side partials, O(languages) output."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    per = docs.select(
        "lang",
        F.size(toks).cast("long").alias("w"),
        F.regexp_count(F.col("text"), F.lit(BPE_REGEX))
        .cast("long")
        .alias("b"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("b").alias("n_subword_tokens"),
        F.round(
            F.sum("b").cast("double") / F.sum("w").cast("double"), 6
        ).alias("fertility"),
    )


@register(
    "docs_ngram_novelty_curve",
    oracle=r"""
    WITH docs_n AS (
        SELECT source,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents
    ),
    sh AS (
        SELECT source,
               unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                                     for i in range(1, greatest(len(w) - 1, 2))])) AS g
        FROM docs_n
    ),
    pairs AS (SELECT DISTINCT source, g FROM sh),
    totals AS (SELECT source, COUNT(*) AS n_grams FROM pairs GROUP BY source),
    firsts AS (SELECT g, MIN(source) AS fs FROM pairs GROUP BY g),
    novel AS (SELECT fs AS source, COUNT(*) AS n_novel FROM firsts GROUP BY fs)
    SELECT t.source, t.n_grams,
           COALESCE(n.n_novel, 0) AS n_novel,
           ROUND(CAST(COALESCE(n.n_novel, 0) AS DOUBLE) / t.n_grams, 6)
               AS novelty
    FROM totals t LEFT JOIN novel n USING (source)
    ORDER BY source
    """,
)
def docs_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty under a deterministic ingest order
    (source name ascending): how many of a source's distinct 3-gram
    shingles were NEVER seen in any earlier source — the
    diminishing-returns curve that tells a corpus-acquisition pipeline
    when a new source stops adding content (the data-mixing companion to
    dedup: novelty ≈ 1 − cross-source duplication).

    first-seen(gram) = MIN(source) makes the "earlier" semantics an
    aggregate instead of an ordered scan: the gram-keyed shuffles carry
    (source, gram) pairs pre-reduced by map-side distinct, and no task
    ever needs the sources in order — the same trick that keeps the
    curve computable in one pass at 100 TB."""
    from ..session import spread
    from .dedup import normalize_text, shingles

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    # Spread before the shingle explode: the normalize+shingle projection
    # is the query's dominant per-row cost and runs on the scan's single
    # input partition otherwise (r11 probe: 4.5 s exec, one core).
    pairs = (
        spread(docs, "doc_id")
        .select("source", F.explode(shingles(toks, 3)).alias("g"))
        .distinct()
    )
    totals = pairs.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        pairs.groupBy("g")
        .agg(F.min("source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        totals.join(novel, "source", "left")
        .select(
            "source",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("novelty"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease (readability as a quality feature)
# ---------------------------------------------------------------------------


def readability_flesch(docs: DataFrame) -> DataFrame:
    """Flesch reading ease per language cohort:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``.

    Syllables are approximated by vowel-group count (the standard
    dictionary-free heuristic), sentences by terminal-punctuation
    splits, floored at 1.  All three inputs are INTEGER counts from one
    regexp pass, aggregated exactly per language — the formula's doubles
    touch only those exact integer sums, rounded once.  Another narrow
    scan-bound quality feature: zero shuffle beyond the O(langs) rollup.
    """
    n_words = F.size(F.split(F.col("text"), " ")).cast("long")
    n_sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]")).cast("long"), F.lit(1)
    )
    n_syll = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[aeiouy]+")).cast("long"),
        F.lit(1),
    )
    per_doc = docs.select(
        "lang",
        n_words.alias("w"),
        n_sents.alias("s"),
        n_syll.alias("y"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("sw"),
        F.sum("s").alias("ss"),
        F.sum("y").alias("sy"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("sw").cast("double") / F.col("ss"))
        - F.lit(84.6) * (F.col("sy").cast("double") / F.col("sw"))
    )
    return agg.select(
        "lang",
        "n_docs",
        F.col("sw").alias("total_words"),
        F.col("ss").alias("total_sentences"),
        F.col("sy").alias("total_syllables"),
        F.round(flesch, 6).alias("flesch_score"),
    ).orderBy("lang")


_FLESCH_ORACLE = r"""
WITH per_doc AS (
    SELECT lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
           GREATEST(CAST(len(regexp_extract_all(text, '[.!?]'))
                    AS BIGINT), 1) AS s,
           GREATEST(CAST(len(regexp_extract_all(text, '[aeiouy]+'))
                    AS BIGINT), 1) AS y
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       CAST(SUM(s) AS BIGINT) AS total_sentences,
       CAST(SUM(y) AS BIGINT) AS total_syllables,
       ROUND(206.835
             - 1.015 * (CAST(SUM(w) AS DOUBLE) / SUM(s))
             - 84.6 * (CAST(SUM(y) AS DOUBLE) / SUM(w)), 6)
           AS flesch_score
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("text_readability_flesch", oracle=_FLESCH_ORACLE)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language from exact integer count sums."""
    return readability_flesch(load_table(spark, sf_dir, "documents"))
