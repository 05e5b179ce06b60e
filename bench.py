"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology (protocol details in BASELINE.md):

* ``queries``  — per-query wall seconds, best of BENCH_RUNS executions,
  each execution REBUILDING the DataFrame from the registry exactly as the
  driver does.  This includes the ~0.3–0.5 s Py4J + Catalyst plan-build
  constant per call, and is directly comparable to rounds 1–2.
* ``queries_exec`` — for side-effect-free queries only: collect() time of
  a FRESH build whose analysis/optimization/physical planning was forced
  beforehand (``queryExecution().executedPlan()``).  A fresh build per
  run means fresh RDD lineage — no cross-run shuffle-file reuse, so this
  is true end-to-end execution, minus only the per-call planning constant.
  Execution is what scales with data volume; the planning floor does not,
  which is why the ``queries``→``queries_exec`` gap is irrelevant at
  100 TB.  Work-in-build queries (streaming drains, bucketed writes,
  compaction, IVF training, iterative components) are excluded — their
  build IS the work, so planning and execution are not separable.

Contention detection (round-5 addition; VERDICT r04 "what's wrong" #1):
this host shows transient IO contention that inflated r04 numbers 3–11×
versus a foreground re-measure of identical plans.  The harness now
measures the condition instead of trusting any single pass:

* ``loadavg`` (1-min) is recorded at each query's measurement.
* A fixed CANARY (the flagship, exec-only) is re-timed every
  CANARY_EVERY queries.  Its reference is the best of 3 runs taken right
  after warmup, cross-checked against the committed BASELINE constant —
  if even the session reference exceeds 2× BASELINE, the whole session
  is flagged ``host_contended_at_start``.
* When a periodic canary sample exceeds 2× the session reference, every
  query measured since the previous clean sample is re-run once after
  the canary recovers (bounded wait), keeping the per-query best.  The
  affected names are listed in ``contended_reruns``.
* Failed queries no longer silently shrink the denominator: ``failed``
  carries the count and ``queries`` carries an explicit ``null`` so
  cross-round totals can detect a partial sum (ADVICE r04 #4).
* Cross-round regression check (r8; VERDICT r07 task 9): queries >1.3×
  their prior round's recorded wall (read from last run's
  BENCH_LOCAL.json before it is overwritten) get one more best-of pass
  after a canary recovery wait — worst 15 ratios, listed in
  ``regression_reruns``.  Load noise re-measures clean; genuine
  regressions survive visibly.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from trafsys_data_transfer_spark.registry import all_queries
from trafsys_data_transfer_spark.session import get_spark

BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

#: Canary query: cheap, stable, shuffle+join+topk shaped — a faithful
#: proxy for "is the host currently delivering normal throughput".
CANARY = "flagship_revenue_topk"
#: Re-time the canary after every N measured queries.
CANARY_EVERY = int(os.environ.get("SPARK_GRAFT_CANARY_EVERY", "8"))
#: BASELINE.md round-1 foreground best-of for the flagship at sf0.1
#: (wall, rebuild-inclusive).  Only used for the session-start cross
#: check; span re-runs key off the session's own reference so the
#: detector still works if this constant goes stale.
CANARY_BASELINE_SEC = 0.66
#: Deviation factor that flags contention (per VERDICT r04 #1).
CANARY_TOLERANCE = 2.0
#: Bounded recovery wait before re-running a contended span.
RECOVERY_PROBES = 3
RECOVERY_SLEEP_SEC = 5.0

#: Queries whose build() itself performs the measured work (Spark actions,
#: table/file writes, streaming lifecycles).  For these, rebuild-per-run is
#: the only honest timing; a steady-state re-collect would measure a
#: memory-sink read, not the operator.
WORK_IN_BUILD = {
    "streaming_hourly_rollup",
    "streaming_dedup_events",
    "streaming_view_click_join",
    "streaming_merge_restate",
    "streaming_sessionize",
    "streaming_session_window",
    "streaming_enrich_join",
    "streaming_scd2",
    "streaming_seasonal_anomalies",
    "layout_compaction",
    "layout_zorder",
    "layout_partition_overwrite_restate",
    "timetravel_restate_read",
    "timetravel_version_diff",
    "bucketed_colocated_join",
    "sim_topk_ivf",
    "sim_topk_pq",
    "sim_topk_sq8_stored",
    "sim_topk_pq_stored",
    "sim_topk_ivfpq",
    "sim_semantic_dedup_pipeline",
    "dedup_components",
    "dedup_neardup_pipeline",
    "dedup_neardup_pipeline_portable",
    "dedup_incremental_neardup",
    "dedup_incremental_neardup_portable",
    "pretrain_data_pipeline",
    "pretrain_data_pipeline_portable",
    "events_heavy_hitters_cms",
    "events_misra_gries_topk",
    "docs_jsonl_ingest_quality",
    "streaming_misra_gries_topk",
    "streaming_slo_burn_rate",
    "text_bm25_index_probe",
    "streaming_trending_topk",
    "streaming_cusum_changepoints",
    "graph_kcore_members",
    "streaming_view_click_leftjoin",
    "streaming_growth_accounting",
    "layout_zonemap_skip",
    "streaming_decayed_topk",
    "text_bm25_index_incremental",
    "tokenizer_bpe_encode",
    "timetravel_rollback_read",
    "timetravel_schema_evolution",
    "streaming_versioned_ingest",
    "bucketed_colocated_agg",
    "streaming_contribution_cap",
    # round 7 lifecycle queries: the work runs in build(); the returned
    # DataFrame is a sink/stored-table read, so exec-only timing would be
    # a scan of the result, not the operator.
    "text_bm25_index_compacted",
    "timetravel_compact_read",
    "mv_incremental_refresh",
    "layout_bloom_file_skip",
    "streaming_mv_refresh",
    "streaming_ohlc_hourly",
    "layout_bloom_index_incremental",
    "orders_merge_cdf",
    "streaming_merge_cdf",
    "layout_hilbert",
    "timetravel_partition_evolution",
    "events_quantile_sketch",
    "streaming_quantile_sketch",
    "events_equidepth_histogram_sketch",
    "events_scd2_bitemporal",
    # iterative label loops run eager localCheckpoints during build()
    "er_golden_record",
    "graph_lpa_communities",
    "timetravel_table_history",
    "events_grouped_quantile_sketch",
    "streaming_view_click_fulljoin",
    "catalog_snapshot_join",
    "streaming_percolate",
    "streaming_catalog_ingest",
    "dedup_components_incremental",
    # round 8 lifecycle queries: commits/vacuum run in build()
    "timetravel_vacuum_gc",
    # the closure loop's per-round termination probe executes in build()
    "customer_hierarchy_rollup",
    "streaming_interval_islands",
    # round 9 session-3 lifecycle queries: stream drain / versioned
    # commits run in build(), the returned DataFrame reads the result
    "streaming_holt_linear",
    "timetravel_shallow_clone",
    # round 11 sessions 6-8: stream drains / iterative loops in build()
    "streaming_fd_audit",
    "streaming_classifier_auc",
    "streaming_log2_histogram",
    "timetravel_branch_merge",
    "graph_temporal_reach",
    "events_markov_stationary",
    "docs_coverage_greedy",
}


def _time_canary(spark, spec, sf_dir: str) -> float:
    """One wall-clock canary run, rebuild-inclusive (same protocol as the
    round-1 BASELINE row, so CANARY_BASELINE_SEC is directly comparable)."""
    t0 = time.perf_counter()
    spec.build(spark, sf_dir).collect()
    return time.perf_counter() - t0


def _measure(spark, spec, sf_dir: str, measurable: bool, runs: int):
    """Best-of-`runs` timing of one query.  Returns (wall_best, exec_best)
    where exec_best is None for work-in-build queries."""
    best = None
    e_best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        df = spec.build(spark, sf_dir)
        if measurable:
            # Force analysis → optimization → physical planning now so the
            # collect below times execution alone.  Fresh build per run =
            # fresh RDD lineage = no shuffle-file reuse.
            df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            e_best = (t2 - t1) if e_best is None else min(e_best, t2 - t1)
            took = t2 - t0
        else:
            df.collect()
            took = time.perf_counter() - t0
        best = took if best is None else min(best, took)
    return best, e_best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    specs = all_queries()

    # Warm the JVM / parquet footers so per-query numbers reflect steady
    # state, not first-touch costs.
    specs[CANARY].build(spark, sf_dir).collect()
    # Also warm the Arrow/Pandas-UDF worker pool: the first Python stage of
    # the session forks 32 workers that each import numpy/pandas — ~10 s of
    # one-time cost that would otherwise be billed to whichever UDF query
    # runs first.  A tiny-sf MinHash pass spawns them all.
    specs["dedup_minhash_lsh"].build(spark, "/root/testdata/sf0.001").collect()

    # Session canary reference: best of 3 warm runs.  Cross-check against
    # the committed BASELINE so a fully-contended session is still flagged.
    canary_ref = min(_time_canary(spark, specs[CANARY], sf_dir) for _ in range(3))
    host_contended_at_start = canary_ref > CANARY_TOLERANCE * CANARY_BASELINE_SEC
    canary_samples: list[dict] = [
        {
            "after": None,
            "sec": round(canary_ref, 4),
            "loadavg1": round(os.getloadavg()[0], 2),
        }
    ]

    timings: dict[str, float | None] = {}
    exec_only: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    errors: dict[str, str] = {}
    contended_reruns: list[str] = []

    def run_one(name: str, spec) -> None:
        measurable = name not in WORK_IN_BUILD
        # Work-in-build queries (streaming lifecycles, index builds,
        # iterative jobs) pay their full cost on EVERY run — cap them at
        # best-of-2 so the suite stays inside the driver's time budget.
        runs = BENCH_RUNS if measurable else min(BENCH_RUNS, 2)
        loadavg[name] = round(os.getloadavg()[0], 2)
        try:
            best, e_best = _measure(spark, spec, sf_dir, measurable, runs)
        except Exception as exc:  # noqa: BLE001 — one broken query must not
            # zero the whole bench: record (with an explicit null timing so
            # the total is visibly partial) and keep measuring the rest.
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            timings[name] = None
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
            return
        prev = timings.get(name)
        timings[name] = round(best if prev is None else min(prev, best), 4)
        if e_best is not None:
            prev_e = exec_only.get(name)
            exec_only[name] = round(
                e_best if prev_e is None else min(prev_e, e_best), 4
            )

    span: list[str] = []  # queries measured since the last clean canary
    for name, spec in specs.items():
        run_one(name, spec)
        span.append(name)
        if len(span) < CANARY_EVERY:
            continue
        c = _time_canary(spark, specs[CANARY], sf_dir)
        sample = {
            "after": name,
            "sec": round(c, 4),
            "loadavg1": round(os.getloadavg()[0], 2),
        }
        canary_samples.append(sample)
        # Ratchet the reference down to the best observation so far: if the
        # session STARTED contended, later clean samples tighten the
        # detector instead of inheriting an inflated floor.
        canary_ref = min(canary_ref, c)
        if c > CANARY_TOLERANCE * canary_ref:
            # Host was contended somewhere in this span: wait (bounded)
            # for the canary to recover, then give each affected query one
            # more best-of pass.
            for _ in range(RECOVERY_PROBES):
                time.sleep(RECOVERY_SLEEP_SEC)
                c = _time_canary(spark, specs[CANARY], sf_dir)
                if c <= CANARY_TOLERANCE * canary_ref:
                    break
            sample["rerun_span"] = list(span)
            for sname in span:
                if sname not in errors:
                    contended_reruns.append(sname)
                    run_one(sname, specs[sname])
        span = []

    # Regression-triggered re-measurement (VERDICT r07 task 9): any query
    # >1.3x its PRIOR round's recorded wall (BENCH_LOCAL.json is written
    # at the end of each run, so at start it holds last round's numbers)
    # gets one more best-of pass after a canary recovery check — ambient
    # load masquerading as a regression re-measures clean; a genuine
    # regression survives and is visibly listed.  Bounded to the worst
    # 15 ratios so a globally-loaded host can't double the suite.
    regression_reruns: list[str] = []
    prior_queries: dict[str, float] = {}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            )
        ) as fh:
            prior_queries = json.load(fh).get("queries") or {}
    except (OSError, ValueError):
        pass
    suspects = sorted(
        (
            (timings[n] / p, n)
            for n, p in prior_queries.items()
            if timings.get(n) is not None and p and timings[n] > 1.3 * p
        ),
        reverse=True,
    )[:15]
    if suspects:
        for _ in range(RECOVERY_PROBES):
            c = _time_canary(spark, specs[CANARY], sf_dir)
            canary_ref = min(canary_ref, c)
            if c <= CANARY_TOLERANCE * canary_ref:
                break
            time.sleep(RECOVERY_SLEEP_SEC)
        for _ratio, sname in suspects:
            regression_reruns.append(sname)
            run_one(sname, specs[sname])

    ok = [v for v in timings.values() if v is not None]
    total = round(sum(ok), 4)
    worst5 = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v is not None),
            key=lambda kv: kv[1],
            reverse=True,
        )[:5]
    )
    # Field ORDER is load-bearing (VERDICT r05 #1): the driver captures only
    # the LAST 2000 chars of this line, so the big per-query maps go FIRST
    # and every summary scalar the driver needs (totals, canary, errors,
    # contention state) goes LAST, guaranteed inside the tail window.
    payload = {
        # -- big maps first (sacrificial under tail truncation) --
        "queries": timings,
        "queries_exec": exec_only,
        "loadavg1": loadavg,
        "canary_samples": canary_samples,
        # -- summary tail: everything below fits well inside 2000 chars --
        "errors": errors,
        "contended_reruns": contended_reruns,
        "regression_reruns": regression_reruns,
        "worst5_wall_sec": worst5,
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "exec_total_sec": round(sum(exec_only.values()), 4),
        "n_queries": len(timings),
        "bench_runs": BENCH_RUNS,
        "failed": len(errors),
        "total_is_partial": bool(errors),
        "canary": CANARY,
        "canary_ref_sec": round(canary_ref, 4),
        "canary_baseline_sec": CANARY_BASELINE_SEC,
        "host_contended_at_start": host_contended_at_start,
        "sf": sf,
    }
    line = json.dumps(payload)
    # Belt-and-braces: persist the complete artifact in-repo so no tail
    # capture is ever the only record of a round's numbers.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_LOCAL.json"),
            "w",
        ) as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    print(line)


if __name__ == "__main__":
    main()
