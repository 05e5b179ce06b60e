"""Heavy-tier scaling bench (VERDICT r11 task 3).

At sf0.1 the suite's ~0.5 s/query session floor swamps compute: the r11
8-core vs 32-core artifact showed ratios ≈ 1 for ~90% of queries, so
further optimization of the tail is unmeasurable at that scale.  This
tool measures the ~38 heaviest query paths on a 10× key-shifted replica
(SCALE.md protocol) where per-query compute is 5-20 s and core-count
scaling separates from the floor.

Contract (mirrors bench.py): reads the SOURCE data dir from
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1), builds/uses the
10× replica DERIVED from it under /tmp, runs on
``local[$SPARK_GRAFT_CPUS]`` via the shared session module, and prints
ONE JSON line ``{"metric": "heavy10x_total_wall_sec", "value": N,
"unit": "sec", "queries": {...}, "sf": ...}``.  It is ADDITIVE evidence:
bench.py and its artifact are untouched.

Replica design (constant work density — the SCALE.md r4 lesson that
naive replication inflates DUP DENSITY and makes output-sensitive
operators look super-linear):

* every table's keys shift by ``rep * SHIFT`` so joins stay
  within-replica (10 disconnected copies = honest 10× work);
* ``documents`` uses the flat-marker recipe (replica marker token after
  every 3rd word): cross-replica shingle Jaccard ~0.14, within-replica
  planted pairs unchanged — 10× corpus, ~10× near-dup pairs;
* ``part`` gets a replica tag right AFTER the blocking character
  (sorted-neighborhood blocks then cluster by replica, so ER window
  neighbors stay within-replica and cross-replica dirty names are ≥4
  edits apart — above MAX_DIST=2);
* ``embeddings`` get a LARGE deterministic per-replica perturbation
  (±0.25-amplitude per-dimension sine) so cross-replica vectors do NOT
  collide in LSH buckets (the ±0.01 probe recipe would multiply
  near-dup candidates ~replica²);
* ``events`` shift ids and jitter timestamps by 17·rep seconds
  (scale_probe recipe).

Usage:
    python tools/bench_heavy.py [--runs 2] [--build-only] [--names q...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from trafsys_data_transfer_spark.registry import all_queries
from trafsys_data_transfer_spark.schemas import FIXTURE_TABLES
from trafsys_data_transfer_spark.session import get_spark
from trafsys_data_transfer_spark.sources.fixtures import load_table

REPS = 10
SHIFT = 10_000_000

#: The heavy tier: every query path ≥ ~2 s wall at sf0.1 in the r12
#: round-start clean bench, minus the bulk of the streaming-drain family
#: (its per-batch floor at 10× is recorded in OPTIMIZATION_r12.md item 8;
#: four representatives kept here for the scaling ratio).
HEAVY = (
    "pretrain_data_pipeline",
    "pretrain_data_pipeline_portable",
    "er_golden_record",
    "sim_semantic_dedup_pipeline",
    "dedup_components_incremental",
    "dedup_neardup_pipeline",
    "dedup_neardup_pipeline_portable",
    "dedup_incremental_neardup",
    "dedup_incremental_neardup_portable",
    "dedup_components",
    "dedup_minhash_lsh_portable",
    "docs_exact_neardup_join",
    "ivm_delta_join_orders",
    "graph_pagerank_partsupp",
    "graph_lpa_communities",
    "graph_hits_bipartite",
    "graph_bfs_reach",
    "sim_topk_ivfpq",
    "sim_topk_pq_stored",
    # embeddings_knn_label_noise is EXCLUDED (not silently — documented in
    # OPTIMIZATION_r12.md): the 4-plane embedding LSH is fixture-tuned
    # (similarity.py docstring), so bucket density — and candidate pairs —
    # grow quadratically with corpus size at FIXED banding (measured 91 s
    # at 10×, ~100× candidates).  That is the documented banding knob at
    # scale, not a plan property.  sim_semantic_dedup_pipeline shares the
    # hazard but is KEPT as the one quadratic-banding witness in the tier.
    "embeddings_kmeans",
    "orders_revenue_recognition",
    "text_decontaminate_fuzzy",
    "text_decontaminate_fuzzy_portable",
    "text_bm25_index_compacted",
    "text_bm25_index_incremental",
    "layout_compaction",
    "layout_hilbert",
    "timetravel_restate_read",
    "timetravel_version_diff",
    "timetravel_shallow_clone",
    "bucketed_colocated_join",
    "bucketed_colocated_agg",
    "events_scd2_apply_late_batch",
    "lineitem_fifo_matching",
    # streaming representatives (state drain, merge, session, cap)
    "streaming_contribution_cap",
    "streaming_sessionize",
    "streaming_merge_restate",
    "streaming_interval_islands",
)


def _letters(rep: int) -> str:
    return chr(ord("a") + rep) * 6


def build_replica(spark, src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in FIXTURE_TABLES:
        out = os.path.join(dst, f"{name}.parquet")
        srcp = os.path.join(src, f"{name}.parquet")
        if name in ("region", "nation"):
            if not os.path.lexists(out):
                os.symlink(srcp, out)
            continue
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        base = load_table(spark, src, name)
        parts = []
        for rep in range(REPS):
            r = F.lit(rep)
            if name == "customer":
                parts.append(
                    base.select(
                        (F.col("c_custkey") + r * SHIFT).alias("c_custkey"),
                        "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
                    )
                )
            elif name == "supplier":
                parts.append(
                    base.select(
                        (F.col("s_suppkey") + r * SHIFT).alias("s_suppkey"),
                        "s_name", "s_nationkey", "s_acctbal",
                    )
                )
            elif name == "part":
                # replica tag after the blocking char: ER windows stay
                # within-replica; cross-replica dirty names are >=4 edits
                parts.append(
                    base.select(
                        (F.col("p_partkey") + r * SHIFT).alias("p_partkey"),
                        F.concat(
                            F.substring("p_name", 1, 1),
                            F.lit(_letters(rep) + " "),
                            F.expr("substring(p_name, 2)"),
                        ).alias("p_name"),
                        "p_brand", "p_type", "p_size", "p_retailprice",
                    )
                )
            elif name == "orders":
                parts.append(
                    base.select(
                        (F.col("o_orderkey") + r * SHIFT).alias("o_orderkey"),
                        (F.col("o_custkey") + r * SHIFT).alias("o_custkey"),
                        "o_orderstatus", "o_totalprice", "o_orderdate",
                        "o_orderpriority",
                    )
                )
            elif name == "lineitem":
                parts.append(
                    base.select(
                        (F.col("l_orderkey") + r * SHIFT).alias("l_orderkey"),
                        (F.col("l_partkey") + r * SHIFT).alias("l_partkey"),
                        (F.col("l_suppkey") + r * SHIFT).alias("l_suppkey"),
                        "l_linenumber", "l_quantity", "l_extendedprice",
                        "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                        "l_shipdate",
                    )
                )
            elif name == "events":
                parts.append(
                    base.select(
                        (F.col("event_id") + r * SHIFT).alias("event_id"),
                        (F.col("user_id") + r * SHIFT).alias("user_id"),
                        (F.col("ts") + F.make_interval(secs=r * 17)).alias("ts"),
                        "event_type", "value", "props",
                    )
                )
            elif name == "documents":
                # flat-marker recipe (scale_probe build_flat_replica)
                parts.append(
                    base.select(
                        (F.col("doc_id") + r * SHIFT).alias("doc_id"),
                        F.expr(
                            "array_join(flatten(transform(split(text, ' '), "
                            f"(w, i) -> CASE WHEN i % 3 = 2 THEN array(w, 'zz{rep}q') "
                            "ELSE array(w) END)), ' ')"
                        ).alias("text"),
                        "lang", "source",
                        (F.col("n_chars") + 5).alias("n_chars"),
                    )
                )
            else:  # embeddings
                # per-replica CYCLIC DIMENSION SHIFT: a permutation keeps
                # every intra-replica norm/dot/neighbor relation exactly
                # the 1x corpus's, while cross-replica cosines collapse to
                # ~0 (random alignment) so LSH buckets decorrelate — an
                # additive ±0.25 jitter measured 157 s on
                # embeddings_knn_label_noise (cross-replica candidate
                # explosion, the dup-density trap).
                shift = (rep * 13) % 64
                emb = (
                    F.col("embedding")
                    if shift == 0
                    else F.concat(
                        F.slice(F.col("embedding"), shift + 1, 64 - shift),
                        F.slice(F.col("embedding"), 1, shift),
                    )
                )
                parts.append(
                    base.select(
                        (F.col("vec_id") + r * SHIFT).alias("vec_id"),
                        "label",
                        emb.alias("embedding"),
                    )
                )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.write.mode("overwrite").parquet(out)
        print(f"replica built: {name}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument("--names", nargs="*", default=None)
    args = ap.parse_args()

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = "/tmp/tds_heavy10x_" + os.path.basename(os.path.normpath(src))

    spark = get_spark("bench_heavy")
    build_replica(spark, src, dst)
    if args.build_only:
        return

    specs = all_queries()
    names = args.names or [n for n in HEAVY if n in specs]

    # Warm JVM + python worker pool (bench.py recipe), then canary ref.
    specs["flagship_revenue_topk"].build(spark, src).collect()
    specs["dedup_minhash_lsh"].build(spark, "/root/testdata/sf0.001").collect()
    canary = []
    for _ in range(3):
        t0 = time.perf_counter()
        specs["flagship_revenue_topk"].build(spark, src).collect()
        canary.append(time.perf_counter() - t0)
    canary_ref = round(min(canary), 4)

    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_heavy: {name}")
        best = None
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                specs[name].build(spark, dst).collect()
                took = time.perf_counter() - t0
                best = took if best is None else min(best, took)
            timings[name] = round(best, 4)
        except Exception as exc:  # noqa: BLE001 — record, keep benching
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: {timings[name]}", file=sys.stderr, flush=True)

    ok = [v for v in timings.values() if v is not None]
    print(
        json.dumps(
            {
                "queries": timings,
                "errors": errors,
                "metric": "heavy10x_total_wall_sec",
                "value": round(sum(ok), 4),
                "unit": "sec",
                "n_queries": len(timings),
                "failed": len(errors),
                "runs": args.runs,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "canary_ref_sec": canary_ref,
                "loadavg1": round(os.getloadavg()[0], 2),
                "sf": "0.1x10",
            }
        )
    )


if __name__ == "__main__":
    main()
