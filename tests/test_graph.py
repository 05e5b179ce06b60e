"""Connected components: topology correctness and convergence."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trafsys_data_transfer_spark.operators.graph import connected_components


def _cc(spark, n_nodes, edge_list, **kw):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], ["id"])
    edges = spark.createDataFrame(edge_list or [(0, 0)], ["src", "dst"])
    if not edge_list:
        edges = edges.filter(F.lit(False))
    got = connected_components(nodes, edges, **kw).collect()
    return {r["id"]: r["component"] for r in got}

def test_chain_cycle_singleton(spark, cc_paths):
    # 0-1-2-3 chain, 4-5-6-4 cycle, 7 isolated.
    for _ in cc_paths():
        comp = _cc(spark, 8, [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (6, 4)])
        assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_no_edges_all_singletons(spark, cc_paths):
    for _ in cc_paths():
        comp = _cc(spark, 5, [])
        assert comp == {i: i for i in range(5)}


def test_long_chain_converges_within_log_rounds(spark, cc_paths):
    # A 64-node path has diameter 63; star contraction must resolve it
    # well within max_iter=10 (~log2 rounds), where plain one-hop
    # propagation would need 63.
    for _ in cc_paths():
        comp = _cc(spark, 64, [(i, i + 1) for i in range(63)], max_iter=10)
        assert set(comp.values()) == {0}


def test_direction_and_duplicates_ignored(spark, cc_paths):
    for _ in cc_paths():
        comp = _cc(spark, 4, [(1, 0), (1, 0), (2, 1), (0, 2), (3, 3)])
        assert comp == {0: 0, 1: 0, 2: 0, 3: 3}


def _union_find(node_ids, edges):
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
    return {n: find(n) for n in node_ids}


_I64 = 2**63 - 1


def _mixed_edges():
    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(100, 160)]
    shuffled = list(range(1000, 1060))
    rng.shuffle(shuffled)
    shuffled_chain = list(zip(shuffled, shuffled[1:]))
    clique = [(a, b) for a in range(200, 207) for b in range(a + 1, 207)]
    loops = [(300, 300), (301, 301), (300, 302)]
    dups = [(400, 401), (401, 400), (400, 401), (402, 401)]
    negative = [(-5, -1), (-1, 3), (-7, -8), (-8, -(2**40))]
    extremes = [(_I64, _I64 - 1), (-_I64 - 1, -_I64), (-_I64, _I64), (_I64 - 2, 0)]
    rand = [(rng.randrange(500, 560), rng.randrange(500, 560)) for _ in range(45)]
    return chain + shuffled_chain + clique + loops + dups + negative + extremes + rand


_CC_CASES = {
    # (node id type, edge id types, edges, extra singleton ids)
    "mixed_long": ("long", ("long", "long"), _mixed_edges(), [900, -900, 303]),
    "empty": ("long", ("long", "long"), [], [0, 1, -2, _I64]),
    "int_ids": ("int", ("int", "int"), [(3, 1), (1, 2), (9, 8), (-4, 8), (2, 2)], [5, 2**31 - 1]),
    "int_nodes_long_edges": ("int", ("long", "int"), [(3, 1), (1, 2), (7, 6)], [5]),
}


@pytest.mark.parametrize("case", sorted(_CC_CASES))
def test_components_paths_match_union_find(spark, cc_paths, case):
    """Driver finish and distributed loop return the union-find labels
    with one schema, for any graph shape and integral id type."""
    node_type, (src_type, dst_type), edges, singles = _CC_CASES[case]
    node_ids = sorted({u for e in edges for u in e} | set(singles))
    want = _union_find(node_ids, edges)
    nodes = spark.createDataFrame([(n,) for n in node_ids], f"id {node_type}")
    e = spark.createDataFrame(edges, f"src {src_type}, dst {dst_type}")
    wide = "bigint" if "long" in (node_type, src_type, dst_type) else "int"
    schemas = []
    for _ in cc_paths():
        out = connected_components(nodes, e)
        assert {r["id"]: r["component"] for r in out.collect()} == want
        schemas.append(out.schema)
    assert schemas[0] == schemas[1]
    assert [(f.name, f.dataType.simpleString()) for f in schemas[0]] == [
        ("id", {"long": "bigint", "int": "int"}[node_type]),
        ("component", wide),
    ]


@pytest.mark.parametrize("shape", ["shuffled_chain", "random_sparse", "star_of_max", "extremes"])
def test_min_id_labels_matches_union_find(shape):
    """The driver finish's numpy labelling equals union-find on graphs
    whose hooking builds deep trees (a long chain in random id order)."""
    import numpy as np

    from trafsys_data_transfer_spark.operators.graph import min_id_labels

    rng = np.random.default_rng(3)
    if shape == "shuffled_chain":
        order = rng.permutation(5000) - 2500
        u, v = order[:-1], order[1:]
    elif shape == "random_sparse":
        u, v = rng.integers(0, 4000, 3000), rng.integers(0, 4000, 3000)
    elif shape == "star_of_max":
        u, v = np.full(500, 10_000), np.arange(500)
    else:
        u = np.array([_I64, -_I64 - 1, 5, _I64 - 1], dtype=np.int64)
        v = np.array([-_I64 - 1, 7, 7, 0], dtype=np.int64)
    u, v = u.astype(np.int64), v.astype(np.int64)
    ids, labels = min_id_labels(u, v)
    want = _union_find(sorted(set(u.tolist()) | set(v.tolist())), zip(u.tolist(), v.tolist()))
    assert dict(zip(ids.tolist(), labels.tolist())) == want


def test_driver_finish_at_the_bound_and_loop_above_it(spark, monkeypatch):
    """An edge set of exactly ``bound`` symmetrized edges is finished on
    the driver before any loop round; one edge more and the loop runs
    first.  ``bound`` = threshold bytes ÷ 16."""
    from trafsys_data_transfer_spark.operators import graph

    edges = [(i, i + 1) for i in range(0, 20)] + [(50, 60), (60, 70)]
    n_sym = 2 * len(edges)
    node_ids = sorted({u for e in edges for u in e} | {99})
    want = _union_find(node_ids, edges)
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    calls = []
    for name in ("min_id_labels", "_star_forest_violations"):
        real = getattr(graph, name)
        monkeypatch.setattr(
            graph, name, lambda *a, _n=name, _f=real: calls.append(_n) or _f(*a)
        )
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        for bound, first in ((n_sym, "min_id_labels"), (n_sym - 1, "_star_forest_violations")):
            spark.conf.set(key, str(bound * graph.EDGE_ROW_BYTES))
            assert graph.driver_edge_bound(spark) == bound
            calls.clear()
            got = {r["id"]: r["component"] for r in connected_components(nodes, e).collect()}
            assert got == want
            assert calls[0] == first, (bound, calls)
    finally:
        spark.conf.set(key, saved)


def test_er_golden_record_build_job_ceiling(spark, sf_dir):
    """``er_golden_record``'s build launches at most 12 Spark jobs: match
    generation, one count of the symmetrized edge set and the driver
    finish's fetch.  The distributed loop alone makes dozens."""
    from trafsys_data_transfer_spark.registry import all_queries

    build = all_queries()["er_golden_record"].build
    sc = spark.sparkContext
    group = "test_er_golden_record_build_job_ceiling"
    sc.setJobGroup(group, group)
    try:
        build(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= 12, jobs


# ---------------------------------------------------------------------------
# PageRank (fixed-point)
# ---------------------------------------------------------------------------

from trafsys_data_transfer_spark.operators.graph import (  # noqa: E402
    PR_INIT,
    pagerank_fixed,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _pr_reference(pairs, n_iters, nodes=None):
    """Plain-Python mirror of the integer recurrence."""
    from collections import defaultdict

    out = defaultdict(int)
    adj = defaultdict(list)
    ns = set(nodes or [])
    for s, d in pairs:
        out[s] += 1
        adj[s].append(d)
        ns.update((s, d))
    rank = {v: PR_INIT for v in ns}
    teleport = PR_INIT * 3 // 20
    for _ in range(n_iters):
        inflow = defaultdict(int)
        for s, ds in adj.items():
            c = rank[s] // out[s]
            for d in ds:
                inflow[d] += c
        rank = {v: teleport + (17 * inflow[v]) // 20 for v in ns}
    return rank


def test_pagerank_matches_python_reference(spark):
    pairs = [(0, 1), (1, 0), (1, 2), (2, 0), (3, 0)]  # 3 dangles into 0
    got = {r.node: r.rank for r in pagerank_fixed(_edges(spark, pairs), 4).collect()}
    assert got == _pr_reference(pairs, 4)


def test_pagerank_symmetric_pair_and_star(spark):
    # two mutually-linked nodes: identical ranks, fixpoint at PR_INIT
    # minus only truncation leak
    got = {r.node: r.rank for r in pagerank_fixed(_edges(spark, [(0, 1), (1, 0)]), 5).collect()}
    assert got[0] == got[1]
    assert abs(got[0] - PR_INIT) <= 5
    # star: center receives from all leaves → outranks them
    star = [(i, 9) for i in range(5)] + [(9, i) for i in range(5)]
    ranks = {r.node: r.rank for r in pagerank_fixed(_edges(spark, star), 5).collect()}
    assert all(ranks[9] > ranks[i] for i in range(5))


def test_pagerank_bit_deterministic_and_mass_bounded(spark, sf_dir):
    from trafsys_data_transfer_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    links = li.select(
        (F.col("l_partkey") * 2).alias("p"), (F.col("l_suppkey") * 2 + 1).alias("s")
    ).distinct()
    edges = links.selectExpr("p as src", "s as dst").union(
        links.selectExpr("s as src", "p as dst")
    )
    a = {r.node: r.rank for r in pagerank_fixed(edges, 3).collect()}
    b = {r.node: r.rank for r in pagerank_fixed(edges.repartition(13), 3).collect()}
    assert a == b  # integer arithmetic: partitioning cannot change a bit
    n = len(a)
    total = sum(a.values())
    # truncation only ever LEAKS mass; teleport floor bounds it below
    assert total <= n * PR_INIT
    assert total >= n * (PR_INIT * 3 // 20)


# ---------------------------------------------------------------------------
# label propagation communities
# ---------------------------------------------------------------------------


def _clique_edges(lo, n):
    return [(lo + i, lo + j) for i in range(n) for j in range(i + 1, n)]


def test_lpa_separates_bridged_cliques(spark, cc_paths):
    """Two 6-cliques joined by ONE bridge edge: connected components see
    one blob; LPA keeps two dense communities."""
    from trafsys_data_transfer_spark.operators.graph import (
        connected_components,
        lpa_communities,
    )

    edges = _clique_edges(0, 6) + _clique_edges(10, 6) + [(0, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(6)) + list(range(10, 16))], "id long"
    )
    for _ in cc_paths():
        comp = connected_components(nodes, e)
        assert comp.select("component").distinct().count() == 1
    lpa = {r.id: r.community for r in lpa_communities(nodes, e).collect()}
    a = {lpa[i] for i in range(6)}
    b = {lpa[i] for i in range(10, 16)}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_lpa_deterministic_under_partitioning(spark):
    from trafsys_data_transfer_spark.operators.graph import lpa_communities

    edges = _clique_edges(0, 5) + _clique_edges(20, 4) + [(2, 20), (3, 21)]
    nodes = [(i,) for i in list(range(5)) + list(range(20, 24))]
    e1 = spark.createDataFrame(edges, "src long, dst long")
    n1 = spark.createDataFrame(nodes, "id long")
    a = sorted(map(tuple, lpa_communities(n1, e1).collect()))
    b = sorted(
        map(
            tuple,
            lpa_communities(n1.repartition(7), e1.repartition(5)).collect(),
        )
    )
    assert a == b
    # totality: every node labeled
    assert len(a) == len(nodes)


def test_components_apply_edges_bridging_and_singletons(spark, cc_paths):
    """Incremental maintenance: a delta edge BRIDGING two old components
    merges them; singleton arrivals label themselves; result equals the
    one-shot closure over the union."""
    from trafsys_data_transfer_spark.operators.graph import (
        components_apply_edges,
        connected_components,
    )

    old_edges = spark.createDataFrame(
        _clique_edges(0, 3) + _clique_edges(10, 3), "src long, dst long"
    )
    old_nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 12]], "id long"
    )
    delta = spark.createDataFrame([(2, 10), (20, 21)], "src long, dst long")
    new_nodes = spark.createDataFrame([(20,), (21,), (30,)], "id long")
    want_nodes = spark.createDataFrame(
        [(i,) for i in [0, 1, 2, 10, 11, 12, 20, 21, 30]], "id long"
    )
    for _ in cc_paths():
        base = connected_components(old_nodes, old_edges)
        got = {
            (r.id, r.component)
            for r in components_apply_edges(base, delta, new_nodes).collect()
        }
        want = {
            (r.id, r.component)
            for r in connected_components(
                want_nodes, old_edges.unionByName(delta)
            ).collect()
        }
        assert got == want
        d = dict(got)
        assert d[10] == 0  # bridge merged the cliques
        assert d[30] == 30  # singleton arrival


def test_hits_scores_bounded_and_positive(spark, sf_dir):
    """Rescaled HITS scores live in (0, HITS_SCALE]; the max on each
    side is exactly HITS_SCALE (the rescale pins it)."""
    from trafsys_data_transfer_spark.operators.graph import HITS_SCALE
    from trafsys_data_transfer_spark.registry import all_queries

    rows = all_queries()["graph_hits_bipartite"].build(spark, sf_dir).collect()
    for kind in ("authority", "hub"):
        scores = [r.score for r in rows if r.kind == kind]
        assert scores, kind
        assert max(scores) == HITS_SCALE
        assert all(0 < s <= HITS_SCALE for s in scores)
