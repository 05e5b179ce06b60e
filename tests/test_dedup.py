"""Dedup-family semantics on planted duplicates (the fixtures contain
none, so these tests construct corpora with known near/exact dups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trafsys_data_transfer_spark.operators.dedup import (
    exact_dedup,
    fingerprint,
    minhash_candidates,
    minhash_near_dups,
    simhash_near_dups_multiprobe,
)


WORDS = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the window and the bird sings a song of spring morning light"
).split()


def _doc(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus: base doc, exact copy, near-copy (one word changed),
    near-copy (two words changed), and two unrelated docs."""
    base = WORDS * 3  # long enough for stable shingle stats
    near1 = list(base)
    near1[5] = "red"
    near2 = list(base)
    near2[5], near2[20] = "red", "green"
    other = ["completely", "different", "vocabulary", "entirely"] * 15
    other2 = ["nothing", "shared", "with", "anything", "else", "here"] * 12
    rows = [
        (0, _doc(base)),
        (1, _doc(base)),       # exact dup of 0
        (2, _doc(near1)),      # near dup of 0
        (3, _doc(near2)),      # near dup of 0 (slightly farther)
        (4, _doc(other)),
        (5, _doc(other2)),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_index_probe_equals_direct_cross_pairs(planted, spark, tmp_path):
    """The stored-index probe must find EXACTLY the cross-group pairs the
    direct full-corpus pass finds (same signatures, same banding): split
    the planted corpus into batch {0,2,4} / corpus {1,3,5}, index the
    corpus, probe the batch, compare against the direct pairs filtered to
    the batch/corpus boundary."""
    from trafsys_data_transfer_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )

    batch_ids = {0, 2, 4}
    batch = planted.filter(F.col("doc_id").isin(*batch_ids))
    corpus = planted.filter(~F.col("doc_id").isin(*batch_ids))
    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path)
    got = {
        (r.batch_id, r.corpus_id, r.jaccard)
        for r in minhash_index_probe(
            spark, path, batch, corpus, threshold=0.5
        ).collect()
    }
    direct = {
        (a, b, j)
        for r in minhash_near_dups(planted, threshold=0.5).collect()
        for a, b, j in [(r.id_a, r.id_b, r.jaccard), (r.id_b, r.id_a, r.jaccard)]
        if a in batch_ids and b not in batch_ids
    }
    assert got == direct and got  # non-trivial: planted dups cross the split


def test_exact_dedup(planted):
    assert exact_dedup(planted, ["text"]).count() == 5  # 0/1 collapse


def test_fingerprint_ignores_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "HELLO   WORLD "), (3, "bye")],
        ["doc_id", "text"],
    )
    fps = df.select(fingerprint(F.col("text")).alias("fp")).distinct()
    assert fps.count() == 2


def test_minhash_finds_planted_near_dups(planted):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dups(planted, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5   # near dup found
    assert (1, 2) in pairs
    # unrelated docs never pair
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_candidates_bounded(planted):
    """LSH candidate generation must not degenerate to all-pairs on
    unrelated docs."""
    cands = {(r.id_a, r.id_b) for r in minhash_candidates(planted).collect()}
    assert (0, 1) in cands
    assert (4, 5) not in cands


def test_simhash_finds_exact_and_near(planted):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups_multiprobe(planted, max_hamming=8).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical text → identical simhash
    assert (0, 2) in pairs  # one-word change → small hamming distance
    assert not any(4 in p or 5 in p for p in pairs)


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    events = load_table(spark, sf_dir, "events")
    exact = events.select("user_id").distinct().count()
    approx = events.select(
        F.approx_count_distinct("user_id", 0.02).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.05


def test_rolling_hash_equals_direct_recompute():
    """The O(1) rolling update must equal direct per-window recomputation."""
    from trafsys_data_transfer_spark.operators.text import (
        RH_BASE, RH_MOD, RH_WINDOW, _rolling_fps,
    )

    tokens = [hash(f"t{i}") & 0x7FFFFFFF for i in range(40)]
    _, fps = _rolling_fps(tokens, RH_WINDOW)

    def direct(ws):
        h = 0
        for t in ws:
            h = (h * RH_BASE + t % RH_MOD) % RH_MOD
        return h

    expected = [
        direct(tokens[i : i + RH_WINDOW])
        for i in range(len(tokens) - RH_WINDOW + 1)
    ]
    assert fps == expected


def test_rolling_fingerprint_shared_substrings(spark):
    """Docs sharing a long run of tokens share window fingerprints — the
    property winnowing-based near-dup detection relies on."""
    from trafsys_data_transfer_spark.operators.text import rolling_fingerprint_table

    shared = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, "prefix alpha " + shared), (1, shared + " suffix omega"), (2, "unrelated text entirely different")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in rolling_fingerprint_table(df).collect()}
    # Distinct docs → distinct whole-doc fingerprints.
    assert len({r.doc_fp for r in rows.values()}) == 3
    # The shared 30-token run guarantees overlapping window hashes, so the
    # winnowing min over each doc's windows picks the same value.
    assert rows[0].min_window_fp == rows[1].min_window_fp
    assert rows[2].min_window_fp != rows[0].min_window_fp


def test_deterministic_split_is_partition_invariant(spark):
    """The split must be a pure function of the key: repartitioning (or any
    layout change) must not move rows between train and test."""
    from trafsys_data_transfer_spark.operators.sampling import split_column
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select(F.col("id"))
    a = {r["id"]: r["s"] for r in df.select("id", split_column(F.col("id")).alias("s")).collect()}
    b = {
        r["id"]: r["s"]
        for r in df.repartition(7).select("id", split_column(F.col("id")).alias("s")).collect()
    }
    assert a == b
    train_frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.75 < train_frac < 0.85


def test_simhash_multiprobe_complete_recall_vs_exact_hamming(spark, sf_dir):
    """The block-decomposition probe must find EVERY pair within the
    Hamming threshold — recall 1.0 against brute-force bit_count(xor) over
    all pairs (pigeonhole: <=k differing bits cannot spoil all k+1
    blocks).  Run on the real documents fixture so the claim is tested on
    natural signatures, not planted ones."""
    from trafsys_data_transfer_spark.operators.dedup import (
        normalize_text,
        simhash,
        simhash_near_dups_multiprobe,
    )
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    k = 6  # loose threshold → nonempty ground truth on natural data
    sigs = docs.select(
        F.col("doc_id").alias("id"),
        simhash(F.split(normalize_text(F.col("text")), " ")).alias("sig"),
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    exact = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("h", F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))))
        .filter(F.col("h") <= k)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .collect()
    }
    probed = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups_multiprobe(docs, max_hamming=k).collect()
    }
    assert exact, "ground truth empty — loosen k"
    assert probed == exact  # complete recall AND exact-verify precision


def test_simhash_multiprobe_finds_prefix_blind_pair(spark):
    """A pair whose differing bits may land anywhere — the top bits
    included, where a single-prefix probe is blind — must be found by the
    multiprobe."""
    base = WORDS * 3
    near = list(base)
    near[5] = "red"
    df = spark.createDataFrame(
        [(0, _doc(base)), (1, _doc(near))], ["doc_id", "text"]
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dups_multiprobe(df, max_hamming=16).collect()
    }
    # Pigeonhole holds for any k: <=16 differing bits cannot spoil all 17
    # blocks, so the pair is surfaced wherever the bits land.
    assert (0, 1) in pairs


def test_incremental_dedup_novel_only_and_first_seen(spark, sf_dir):
    """Kept rows must be (a) fingerprint-disjoint from the corpus and
    (b) the min doc_id of their fingerprint within the batch."""
    from trafsys_data_transfer_spark.operators.dedup import (
        INCREMENTAL_BATCH_SOURCES,
        fingerprint,
    )
    from trafsys_data_transfer_spark.registry import all_queries
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    kept = all_queries()["dedup_incremental"].build(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("source").isin(*INCREMENTAL_BATCH_SOURCES)
    corpus_fps = {
        r.fp for r in docs.filter(~is_batch).select(
            fingerprint(F.col("text")).alias("fp")
        ).distinct().collect()
    }
    batch_min = {
        r.fp: r.m
        for r in docs.filter(is_batch)
        .groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("m"))
        .collect()
    }
    rows = kept.collect()
    assert rows, "no novel docs — fixture assumption broken"
    for r in rows:
        assert r.fp not in corpus_fps
        assert r.doc_id == batch_min[r.fp]
    # One keeper per fingerprint.
    assert len({r.fp for r in rows}) == len(rows)


def test_neardup_pipeline_yield_invariants(spark, sf_dir):
    """Composition sanity: every source accounted for, keepers never
    exceed docs, and total keepers equal docs minus non-keeper cluster
    members (components ∪ singletons partition the corpus)."""
    from trafsys_data_transfer_spark.registry import all_queries
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    out = all_queries()["dedup_neardup_pipeline"].build(spark, sf_dir)
    rows = out.collect()
    docs = load_table(spark, sf_dir, "documents")
    assert {r.source for r in rows} == {
        r.source for r in docs.select("source").distinct().collect()
    }
    assert all(0 < r.n_keepers <= r.n_docs for r in rows)
    assert sum(r.n_docs for r in rows) == docs.count()
    # The fixture plants near-dups, so some source must lose docs.
    assert sum(r.n_keepers for r in rows) < sum(r.n_docs for r in rows)


def test_hll_sketch_union_tracks_exact_distinct(spark, sf_dir):
    """Union-of-per-source-sketches must estimate the global distinct
    fingerprint count within HLL tolerance, and per-source estimates must
    track each source's exact count — the mergeability contract that lets
    stored sketches replace rescans."""
    from trafsys_data_transfer_spark.operators.dedup import fingerprint
    from trafsys_data_transfer_spark.registry import all_queries
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    rows = {
        r.source: (r.exact_distinct, r.within_tol)
        for r in all_queries()["dedup_hll_sketch_union"].build(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    exact_global = (
        docs.select(fingerprint(F.col("text")).alias("fp")).distinct().count()
    )
    # the strict certificate: exact column reproduces the direct count,
    # and the in-query tolerance boolean (5% / min 2) holds for every
    # source AND for the union-of-stored-sketches row
    assert rows["__union__"][0] == exact_global
    exact_per = {
        r.source: r.n
        for r in docs.groupBy("source")
        .agg(F.countDistinct(fingerprint(F.col("text"))).alias("n"))
        .collect()
    }
    for src, (exact, ok) in rows.items():
        assert ok, src
        if src != "__union__":
            assert exact == exact_per[src]


def test_quadratic_scope_guard_raises_beyond_bound(spark):
    """VERDICT r07 task 7: the O(n²) audit tiers hard-fail on oversized
    input instead of silently launching an all-pairs cross join; the
    check itself is O(bound) (limit+count, not a full scan)."""
    import pytest as _pytest

    from trafsys_data_transfer_spark.operators.dedup import (
        quadratic_scope_guard,
    )

    small = spark.range(50)
    assert quadratic_scope_guard(small, 100, "op", "lsh") is small
    big = spark.range(5000)
    with _pytest.raises(ValueError, match="O\\(n²\\).*hard-bounded"):
        quadratic_scope_guard(big, 100, "op", "lsh")


def test_audience_overlap_hll_certificate(spark, sf_dir):
    """Exact per-day overlap equals the (day,user)-grain recomputation
    and every tolerance boolean holds; overlap never exceeds min(|A|,|B|)."""
    from trafsys_data_transfer_spark.registry import all_queries

    out = (
        all_queries()["events_audience_overlap_hll"]
        .build(spark, sf_dir)
        .collect()
    )
    assert out
    for r in out:
        assert r.viewers_within_tol and r.buyers_within_tol, r
        assert r.overlap_within_tol, r
        assert 0 <= r.exact_overlap <= min(r.exact_viewers, r.exact_buyers)


def test_portable_hash60_matches_duckdb(spark):
    """Cross-engine pin: Spark's portable_hash60 equals DuckDB's
    ('0x' || substr(md5(s), 18, 15))::BIGINT for a spread of inputs —
    the identity every portable-tier strict oracle rests on."""
    import duckdb

    from trafsys_data_transfer_spark.operators.dedup import (
        PORTABLE_HASH60_SQL,
        portable_hash60,
    )

    samples = ["", "a", "abc", "the quick brown fox", "Ünïcodé tëxt",
               "123_456_789", " leading space", "a b c d e f g"]
    got = dict(
        spark.createDataFrame([(s,) for s in samples], ["s"])
        .select("s", portable_hash60(F.col("s")).alias("h"))
        .collect()
    )
    con = duckdb.connect()
    for s in samples:
        expr = PORTABLE_HASH60_SQL.format(s="?")
        want = con.execute(f"SELECT {expr}", [s]).fetchone()[0]
        assert got[s] == want, (s, got[s], want)


def test_near_dup_tiers_find_planted_pairs(planted):
    """The one-hash MinHash and SimHash tiers both surface the planted
    near-identical pairs (J >= 0.9 planted, so recall is 1)."""
    minhash = {
        (r.id_a, r.id_b)
        for r in minhash_near_dups(planted, threshold=0.5).collect()
    }
    assert {(0, 1), (0, 2), (1, 2)} <= minhash

    simhash = {
        (r.id_a, r.id_b)
        for r in simhash_near_dups_multiprobe(planted, max_hamming=3).collect()
    }
    assert (0, 1) in simhash


def _pair_docs(seed: int, n_pairs: int, n_tokens: int, shared: int, id0: int):
    """``n_pairs`` document pairs of ``n_tokens`` distinct words each; the
    two docs of a pair share their first ``shared`` words and nothing
    else, so their 3-shingle Jaccard is
    ``(shared - 2) / (2 * (n_tokens - 2) - (shared - 2))``."""
    import random

    rng = random.Random(seed)
    pool = rng.sample(range(10**9), n_pairs * (2 * n_tokens - shared))
    it = (f"w{x}" for x in pool)
    rows = []
    for i in range(n_pairs):
        a = [next(it) for _ in range(n_tokens)]
        b = a[:shared] + [next(it) for _ in range(n_tokens - shared)]
        rows += [(id0 + 2 * i, " ".join(a)), (id0 + 2 * i + 1, " ".join(b))]
    return rows


def test_minhash_candidate_rate_follows_the_banding_s_curve(spark):
    """16 bands x 4 rows: P(candidate) = 1 - (1 - J^4)^16, i.e. 0.98 at
    J = 0.69 and 0.001 at J = 0.09.  Permutations that are not
    independent (all picking nearly the same minimum shingle) flatten
    this to P ~= J, which lets dissimilar pairs through and misses
    similar ones."""
    n_pairs, n_tokens = 200, 100
    high = _pair_docs(1, n_pairs, n_tokens, 82, 0)          # J = 80/116
    low = _pair_docs(2, n_pairs, n_tokens, 18, 2 * n_pairs)  # J = 16/180
    docs = spark.createDataFrame(high + low, ["doc_id", "text"])
    cands = {(r.id_a, r.id_b) for r in minhash_candidates(docs).collect()}

    def rate(rows):
        ids = [r[0] for r in rows[::2]]
        return sum((i, i + 1) in cands for i in ids) / len(ids)

    assert rate(high) >= 0.9, rate(high)
    assert rate(low) <= 0.02, rate(low)
