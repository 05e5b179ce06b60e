"""Round-12 optimization pins: every behavioral guard this round's
changes rely on gets a focused test here (the r11 discipline —
tests/test_optimization_r11.py — continued).

Covered:
* bm25 sidecar stats: empty-corpus write produces {0, 0} instead of
  raising (ADVICE r11 #1), and the single-count-pass NULL-text guard
  still reproduces the legacy arithmetic exactly.
* SQ8 stored-vs-inline bit equality (ADVICE r11 #2): the stored tier's
  spread + int8 round-trip must not change a single (rank, qdot) pair.
* embeddings_jl_project certificate encoding (VERDICT r11 item 1b): the
  comma-joined string equals the raw array projection element-for-element.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from trafsys_data_transfer_spark.registry import all_queries


def test_bm25_index_write_empty_corpus_writes_zero_stats(spark, tmp_path):
    """ADVICE r11: an EMPTY corpus must write {n_docs: 0, total_dl: 0}
    (the coalesce fallback), not raise TypeError on int(None)."""
    from trafsys_data_transfer_spark.operators.retrieval import bm25_index_write

    docs = spark.createDataFrame([], "doc_id long, text string")
    p = str(tmp_path / "idx_empty")
    bm25_index_write(docs, p)
    with open(os.path.join(p, "_stats.json")) as f:
        assert json.load(f) == {"n_docs": 0, "total_dl": 0}


def test_bm25_stats_null_guard_single_count_pass(spark, tmp_path):
    """The r12 guard (one count pass: n + n_null) must route NULL-text
    corpora through the legacy re-tokenize arithmetic — including its
    size(NULL) = -1 convention — and NULL-free corpora through the
    postings-derived sum, matching the legacy numbers in both cases."""
    from trafsys_data_transfer_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_write,
    )

    def legacy_stats(docs):
        toks = F.split(F.col("text"), " ")
        n, t = docs.select(F.count(F.lit(1)), F.sum(F.size(toks))).first()
        return {"n_docs": int(n), "total_dl": int(t)}

    docs_null = spark.createDataFrame(
        [(1, "x y"), (2, None), (3, "")], "doc_id long, text string"
    )
    p = str(tmp_path / "idx_null_mix")
    bm25_index_write(docs_null, p)
    with open(os.path.join(p, "_stats.json")) as f:
        assert json.load(f) == legacy_stats(docs_null)

    # append with a NULL-text delta: additive advance via the legacy path
    delta = spark.createDataFrame(
        [(4, "z"), (5, None)], "doc_id long, text string"
    )
    bm25_index_append(delta, p)
    with open(os.path.join(p, "_stats.json")) as f:
        assert json.load(f) == legacy_stats(docs_null.unionByName(delta))


def test_sq8_stored_probe_bit_identical_to_inline(spark, sf_dir):
    """ADVICE r11: pin the sq8_index_write spread change — the stored
    tier (spread → int8 parquet → probe) must return exactly the inline
    tier's (query_id, neighbor_id, rank, qdot) rows."""
    qs = all_queries()
    inline = sorted(
        tuple(r) for r in qs["sim_topk_sq8"].build(spark, sf_dir).collect()
    )
    stored = sorted(
        tuple(r) for r in qs["sim_topk_sq8_stored"].build(spark, sf_dir).collect()
    )
    assert stored == inline


def test_components_canonical_e1_matches_union_find(spark, cc_paths):
    """r12 algebraic rewrite pin: connected_components' large-star output
    is deduped in its canonical (child, parent) direction only (the former
    symmetrization fed rows the small-star filter discarded).  Pin the
    full helper against a driver-side union-find ground truth on an
    adversarial mix: a long chain (worst case for contraction depth), a
    clique, a star, singletons, reversed/duplicate edges — on both the
    driver finish and the distributed loop."""
    from trafsys_data_transfer_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(100, 140)]          # 41-node chain
    clique = [(a, b) for a in range(200, 206) for b in range(200, 206) if a < b]
    star = [(300, i) for i in range(301, 310)]
    extra = [(141, 140), (140, 141), (100, 101)]           # reversed + dups
    edges = chain + clique + star + extra
    node_ids = sorted({u for e in edges for u in e} | {400, 401})  # singletons

    # ground truth: union-find
    parent = {n: n for n in node_ids}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted((n, find(n)) for n in node_ids)

    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    for _ in cc_paths():
        got = sorted(
            (r["id"], r["component"])
            for r in connected_components(nodes, e).collect()
        )
        assert got == want


def test_jl_certificate_string_matches_array_projection(spark, sf_dir):
    """VERDICT r11 item 1b: the registered query's comma-joined ``jl``
    certificate must encode exactly jl_project's array output (same
    values, same order), so the driver-canonicalizable rewrite changes
    the ENCODING only, never the projection."""
    from trafsys_data_transfer_spark.operators.jl import jl_project
    from trafsys_data_transfer_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = len(emb.select("embedding").first()["embedding"])
    raw = {
        r["vec_id"]: ",".join(str(v) for v in r["jl"])
        for r in jl_project(emb, d).collect()
    }
    got = {
        r["vec_id"]: r["jl"]
        for r in all_queries()["embeddings_jl_project"].build(spark, sf_dir).collect()
    }
    assert got == raw
