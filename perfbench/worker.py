"""One benchmark run of one workload.  `run.py` starts this in its own
process with TMPDIR, SPARK_CONF_DIR and SPARK_LOCAL_DIRS pointing into a
per-run directory; the result goes to `<run-dir>/result.json`.

A run: make the inputs from the seed (untimed) → set up (session, registry
import, warm-up passes) → closed-loop passes, one client, until
`--seconds` have been measured → correctness gate on every op → stop Spark.
Op and pass times exclude the gate work done between ops.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import statistics
import sys
import time
import traceback

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.fixtures import write_fixtures  # noqa: E402
from perfbench.trace import StreamProgress, Tracer, fold_event_log  # noqa: E402
from perfbench.trafsys_feed import Feed, FeedTransport  # noqa: E402

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _load_comparator():
    """`_rows_to_key` from tools/verify_local.py: the strict, order-
    insensitive, type-tagged row comparison of the oracle gate."""
    path = os.path.join(os.getcwd(), "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._rows_to_key


def _duckdb(run_dir: str):
    """An in-memory DuckDB connection that spills, if ever, into the run dir."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
    return con


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Run:
    """State shared by every workload: session, tracer, op records."""

    def __init__(self, args, spec):
        self.args = args
        self.spec = spec
        self.run_dir = args.run_dir
        self.tracer = Tracer()
        self.ops: list[dict] = []  # kind, name, s, pass, traced
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.problems: list[str] = []
        self.self_check: bool | None = None
        self.groups: set[str] = set()
        self.pass_no = -1  # -1 = warm-up pass

    def fail(self, what: str, op: int | None = None) -> None:
        """Mark op number ``op`` (default: the latest op) failed or wrong."""
        self.failed_ops.add(self.attempted if op is None else op)
        if len(self.problems) < 20:
            self.problems.append(what)

    def timed_op(self, kind: str, name: str, fn):
        """Run ``fn`` as one op: tagged with a job group when traced,
        timed, failures counted.  Returns fn's result or None."""
        self.attempted += 1
        traced = self.tracer.enabled
        group = f"p{self.pass_no}:{kind}:{name}:{self.attempted}"
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(group, name)
            self.groups.add(group)
        start = time.perf_counter()
        try:
            with self.tracer.span(kind, op=name):
                result = fn(group)
        except Exception:
            self.fail(f"{name}: raised {traceback.format_exc(limit=3)}")
            result = None
        took = time.perf_counter() - start
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append(
            {"kind": kind, "name": name, "s": took, "pass": self.pass_no, "traced": traced}
        )
        print(f"pass {self.pass_no:2d} {kind:8s} {name:36s} {took:8.3f} s", flush=True)
        return result

    def pass_time(self, p: int) -> float:
        return sum(o["s"] for o in self.ops if o["pass"] == p)


class RegistryWorkload:
    """A pass over a fixed list of registered queries: build, collect, and
    compare with the DuckDB oracle."""

    def __init__(self, run: Run):
        self.run = run
        self.names = list(run.spec["queries"])
        random.Random(run.args.seed).shuffle(self.names)
        self.fixtures = os.path.join(run.run_dir, "inputs")
        self.oracle_keys: dict[str, list] = {}

    def make_inputs(self) -> dict:
        return write_fixtures(self.fixtures, self.run.args.seed)

    def start(self, spark, queries) -> None:
        no_oracle = [n for n in self.names if queries[n].oracle is None]
        if no_oracle:
            raise SystemExit(f"registry_mix: no DuckDB oracle for {no_oracle}")
        self.spark, self.queries = spark, queries
        self.rows_to_key = _load_comparator()
        self.con = _duckdb(self.run.run_dir)
        for t in FIXTURE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.fixtures}/{t}.parquet'"
            )
        self.listener = StreamProgress(self.run.tracer)
        if self.run.args.trace:
            spark.streams.addListener(self.listener)

    def run_pass(self) -> None:
        for name in self.names:
            out = self.run.timed_op("query", name, lambda g, n=name: self._query(n, g))
            if out is not None:
                self.check(name, *out)

    def _query(self, name: str, group: str):
        tr = self.run.tracer
        with tr.span("query.build") as build:
            df = self.queries[name].build(self.spark, self.fixtures)
        if not tr.enabled:
            return df.columns, [tuple(r) for r in df.collect()]
        jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        build["jobs_in_build"] = jobs
        if jobs == 0:
            with tr.span("query.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("query.exec"):
                rows = [tuple(r) for r in df.collect()]
        else:
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def _expected(self, name: str):
        if name in self.oracle_keys:
            return self.oracle_keys[name]
        tbl = self.con.execute(self.queries[name].oracle).arrow()
        cols = tbl.column_names
        data = [c.to_pylist() for c in tbl.columns]
        rows = [tuple(v) for v in zip(*data)] if data else [()] * tbl.num_rows
        self.oracle_keys[name] = (sorted(cols), self.rows_to_key(rows, cols))
        return self.oracle_keys[name]

    def matches(self, name: str, cols, rows) -> bool:
        return (sorted(cols), self.rows_to_key(rows, cols)) == self._expected(name)

    def latencies(self, ops: list[dict]) -> list[float]:
        """The op latency sample: the short queries (no job in build)."""
        short = set(self.run.spec["short_queries"])
        return [o["s"] for o in ops if o["kind"] == "query" and o["name"] in short]

    def check(self, name: str, cols, rows) -> None:
        run = self.run
        if run.self_check is None and rows:
            # The gate must reject a copy of a real result with one cell changed.
            run.self_check = not self.matches(name, cols, _corrupt(rows))
            if run.args.inject_corruption:
                rows = _corrupt(rows)
        if not self.matches(name, cols, rows):
            run.fail(f"{name}: result differs from the oracle")

    def layer_metrics(self, traced_passes: int) -> dict:
        tr = self.run.tracer
        builds = tr.durations("query.build")
        # Progress events arrive on the listener bus; drain it first.
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return {
            "query.build_s": _median(builds),
            "query.jobs_in_build": sum(tr.values("query.build", "jobs_in_build")) / traced_passes,
            "query.plan_s": _median(tr.durations("query.plan")),
            "query.exec_s": _median(tr.durations("query.exec")),
            **self.listener.metrics(traced_passes),
        }


def _corrupt(rows: list[tuple]) -> list[tuple]:
    """A copy of ``rows`` with one numeric or string cell changed, or with
    its first row repeated when no cell is numeric or a string."""
    for r, row in enumerate(rows):
        for i, v in enumerate(row):
            if isinstance(v, (int, float, str)) and not isinstance(v, bool):
                cell = v + "#" if isinstance(v, str) else v + 1
                return rows[:r] + [row[:i] + (cell,) + row[i + 1:]] + rows[r + 1:]
    return rows + rows[:1]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class NightlyWorkload:
    """A backfill, then consecutive default-window nightly runs through
    `plans.pipeline.run_pipeline` against one target, with the production
    TrafSys adapter and an in-process transport; a daily `rollup_traffic`
    read after each night.  A pass is one night and its read."""

    BASE_URL = "https://trafsys.invalid/rest/"

    def __init__(self, run: Run):
        self.run = run
        self.stats: list[dict] = []  # per night: batch rows, bytes, files, partitions, pass
        work = os.path.join(run.run_dir, "work")
        self.target, self.log = os.path.join(work, "target"), os.path.join(work, "run_log")

    def make_inputs(self) -> dict:
        s = self.run.spec
        self.feed = Feed(self.run.args.seed, s["sites"], s["backfill_days"])
        return {"backfill": self.feed.backfill, "rows": self.feed.rows[self.feed.backfill]}

    def start(self, spark, queries) -> None:
        from trafsys_data_transfer_spark.plans import pipeline
        from trafsys_data_transfer_spark.plans.traffic import rollup_traffic
        from trafsys_data_transfer_spark.sources import trafsys_api

        self.spark, self.pipeline, self.api = spark, pipeline, trafsys_api
        self.rollup_traffic = rollup_traffic
        self.con = _duckdb(self.run.run_dir)
        self.con.execute("SET TimeZone = 'UTC'")
        self.transport = FeedTransport(self.feed)
        # The backfill loads the target the nights update; it is billed to
        # set-up (pass -1).
        lo, hi = self.feed.backfill
        info = self.run.timed_op("backfill", "backfill", lambda g: self._pipeline(cli_from=lo, cli_to=hi))
        if info is not None:
            self.check_target(self.run.attempted)

    def _patch(self):
        """Spans around the calls `run_pipeline` and `make_fetch_window`
        make into the package.  Both look these names up in their modules
        at call time, so wrapping the module attributes is enough."""
        tr, pl, api = self.run.tracer, self.pipeline, self.api
        saved = [
            (obj, name, getattr(obj, name))
            for obj, name in [
                (pl.RunLog, "latest"), (pl.RunLog, "append"), (pl, "merge_upsert_parquet"),
                (api, "fetch_traffic_records"), (api, "land_records"), (api, "read_landed"),
            ]
        ]
        fns = {name: fn for _, name, fn in saved}

        def spanned(span, fn):
            def wrapper(*a, **k):
                with tr.span(span):
                    return fn(*a, **k)
            return wrapper

        def fetch(*a, **k):
            with tr.span("trafsys_api.fetch") as span:
                records = fns["fetch_traffic_records"](*a, **k)
            span["rows"] = len(records)
            return records

        def land(*a, **k):
            with tr.span("trafsys_api.land") as span:
                staging = fns["land_records"](*a, **k)
            span["bytes"] = sum(_data_files(staging).values())
            return staging

        def read(spark, staging_dir):
            rows = 0
            for path in _data_files(staging_dir):
                with open(path) as f:
                    rows += sum(1 for _ in f)
            with tr.span("trafsys_api.read", rows=rows):
                return fns["read_landed"](spark, staging_dir)

        pl.RunLog.latest = spanned("watermark.latest", fns["latest"])
        pl.RunLog.append = spanned("watermark.append", fns["append"])
        pl.merge_upsert_parquet = spanned("merge", fns["merge_upsert_parquet"])
        api.fetch_traffic_records, api.land_records, api.read_landed = fetch, land, read
        return saved

    def run_pass(self) -> None:
        run, feed = self.run, self.feed
        today = feed.next_night()
        window = feed.windows[-1]
        saved = self._patch() if run.tracer.enabled else []
        try:
            before = _data_files(self.target)
            gets, posts = self.transport.gets, self.transport.posts
            info = run.timed_op("night", "night", lambda g: self._pipeline(today=today))
            night = run.attempted
            after = _data_files(self.target)
            rows = run.timed_op("read", "read", lambda g: self._rollup())
        finally:
            for obj, name, fn in saved:
                setattr(obj, name, fn)
        new = {f: b for f, b in after.items() if f not in before}
        self.stats.append(
            {
                "pass": run.pass_no,
                "traced": bool(saved),
                "rows": feed.rows[window],
                "files": len(new),
                "bytes": sum(new.values()),
                "partitions": len({os.path.dirname(f) for f in new}),
                "target_files": len(after),
                "gets": self.transport.gets - gets,
                "posts": self.transport.posts - posts,
            }
        )
        if run.args.inject_corruption and run.pass_no == 0:
            _corrupt_target(self.target)
        if info is not None:
            self.check_target(night)
        if rows is not None:
            self.check_rollup(rows)

    def _pipeline(self, **kw):
        # A fresh token provider and adapter per run, as in a nightly
        # process; the token is carried over through the run log.
        tokens = self.api.TokenProvider(self.BASE_URL, "bench", "bench", self.transport)
        fetch = self.api.make_fetch_window(self.spark, self.BASE_URL, tokens, self.transport)
        with self.run.tracer.span("pipeline"):
            return self.pipeline.run_pipeline(
                self.spark, fetch, self.target, self.log, tokens=tokens, **kw
            )

    def _rollup(self):
        df = self.rollup_traffic(self.pipeline.read_target(self.spark, self.target), grain="day")
        return [(r[0], r[1], r[2].strftime("%Y-%m-%d %H:%M:%S"), r[3], r[4]) for r in df.collect()]

    # ---- correctness gate (untimed) ----------------------------------
    def check_rollup(self, rows) -> None:
        want = self.con.execute(
            f"""SELECT SiteCode, Location,
                       strftime(date_trunc('day', CAST(PeriodEnding AS TIMESTAMP) - INTERVAL 1 SECOND)
                                + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S'),
                       CAST(SUM(Ins) AS BIGINT), CAST(SUM(Outs) AS BIGINT)
                FROM read_parquet('{self.target}/*/*.parquet') GROUP BY 1, 2, 3"""
        ).fetchall()
        if sorted(rows) != sorted(want):
            self.run.fail("rollup read differs from DuckDB over the target")

    @staticmethod
    def target_matches(got: list[tuple], want: dict) -> bool:
        by_key = {(s, loc, pe): (i, ins, outs) for s, loc, pe, i, ins, outs in got}
        return len(got) == len(want) and by_key == want

    def check_target(self, op: int) -> None:
        """The target and run log after the latest run; a mismatch fails op ``op``."""
        feed, run = self.feed, self.run
        got = self.con.execute(
            f"""SELECT SiteCode, Location, strftime(CAST(PeriodEnding AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
                       IsInternal, Ins, Outs
                FROM read_parquet('{self.target}/*/*.parquet')"""
        ).fetchall()
        if not self.target_matches(got, feed.expected_target):
            run.fail("target differs from the last-write-wins reference", op)
        if run.self_check is None:
            run.self_check = not self.target_matches(_corrupt(got), feed.expected_target)
        entries = self.con.execute(
            f"SELECT FromDate, ToDate, Records FROM read_parquet('{self.log}/*.parquet') ORDER BY createdAt"
        ).fetchall()
        expect = [(lo, hi, feed.delivered_keys[(lo, hi)]) for lo, hi in feed.windows]
        if entries != expect:
            run.fail(f"run log {entries[-3:]} != {expect[-3:]}", op)
        if any(cur[0] != prev[1] for prev, cur in zip(entries, entries[1:])):
            run.fail("run log FromDate does not continue the previous ToDate", op)

    # ---- metrics -----------------------------------------------------
    def latencies(self, ops: list[dict]) -> list[float]:
        return [o["s"] for o in ops if o["kind"] == "night"]

    def table(self) -> dict:
        ops = [o for o in self.run.ops if o["pass"] >= 0 and not o["traced"]]
        nights = [o["s"] for o in ops if o["kind"] == "night"]
        stats = [s for s in self.stats if s["pass"] >= 0 and not s["traced"]]
        rows = sum(s["rows"] for s in stats)
        return {
            "backfill_s": sum(o["s"] for o in self.run.ops if o["kind"] == "backfill"),
            "merge_rows_per_s": rows / sum(nights) if nights else 0.0,
            "read_p50_s": _median([o["s"] for o in ops if o["kind"] == "read"]),
            "write_bytes_per_row": sum(s["bytes"] for s in stats) / rows if rows else 0.0,
        }

    def layer_metrics(self, traced_passes: int) -> dict:
        tr, n = self.run.tracer, traced_passes
        stats = [s for s in self.stats if s["traced"]]
        fetched = sum(tr.values("trafsys_api.fetch", "rows"))
        return {
            "trafsys_api.get_calls": sum(s["gets"] for s in stats) / n,
            "trafsys_api.token_posts": sum(s["posts"] for s in stats) / n,
            "trafsys_api.fetch_s": tr.total("trafsys_api.fetch") / n,
            "trafsys_api.land_s": tr.total("trafsys_api.land") / n,
            "trafsys_api.landed_bytes": sum(tr.values("trafsys_api.land", "bytes")) / n,
            "trafsys_api.rows_read_per_fetched": (
                sum(tr.values("trafsys_api.read", "rows")) / fetched if fetched else 0.0
            ),
            "pipeline.count_s": tr.total("pipeline", self_time=True) / n,
            "watermark.latest_s": tr.total("watermark.latest") / n,
            "watermark.append_s": tr.total("watermark.append") / n,
            "merge.s": tr.total("merge") / n,
            "merge.partitions_rewritten": sum(s["partitions"] for s in stats) / n,
            "merge.files_written": sum(s["files"] for s in stats) / n,
            "merge.bytes_written": sum(s["bytes"] for s in stats) / n,
            "target.files": _median([s["target_files"] for s in stats]),
        }


def _corrupt_target(target: str) -> None:
    """Add 1 to one `Ins` value of one target file, in place.  The file
    keeps its physical types and loses its Hadoop checksum, so later runs
    still read it and the gate, not a read error, has to catch the change."""
    path = sorted(p for p in _data_files(target) if p.endswith(".parquet"))[0]
    schema = pq.ParquetFile(path).schema
    int96 = any(schema.column(j).physical_type == "INT96" for j in range(len(schema)))
    t = pq.read_table(path)
    i = t.schema.get_field_index("Ins")
    col = t.column(i).to_pylist()
    col[0] += 1
    pq.write_table(
        t.set_column(i, "Ins", pa.array(col, t.schema.field(i).type)), path,
        use_deprecated_int96_timestamps=int96,
    )
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


WORKLOADS = {
    "nightly_load": NightlyWorkload,
    "registry_mix": RegistryWorkload,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inject-corruption", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans-out", default=os.devnull)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"][args.workload]

    run = Run(args, spec)
    wl = WORKLOADS[args.workload](run)
    inputs = wl.make_inputs()

    print(f"inputs {json.dumps(inputs)}", flush=True)
    t0 = time.perf_counter()
    from trafsys_data_transfer_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from trafsys_data_transfer_spark.registry import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    run.spark = spark
    wl.start(spark, queries)
    # Warm-up passes compile the code paths; they are billed to set-up.
    # One is not enough: the pass after it still runs slower than later ones.
    for _ in range(spec["warmup_passes"]):
        wl.run_pass()
    warmup = run.pass_time(-1)
    setup = (t2 - t0) + warmup

    # Closed loop, one client: the next pass starts when the last ends, as
    # long as the measured time is expected to stay within --seconds, and
    # at least two passes are measured so that one slow pass is not the
    # whole sample.  A traced run alternates untraced and traced passes,
    # starting and ending untraced, so the overhead estimate is not skewed
    # by warm-up.
    min_passes = 3 if args.trace else 2
    measured = 0.0
    while True:
        run.pass_no += 1
        run.tracer.enabled = bool(args.trace) and run.pass_no % 2 == 1
        wl.run_pass()
        run.tracer.enabled = False
        measured += run.pass_time(run.pass_no)
        if run.pass_no + 1 < min_passes or (args.trace and run.pass_no % 2):
            continue
        if measured + measured / (run.pass_no + 1) > args.seconds:
            break
    passes = run.pass_no + 1

    def pass_times(traced: bool) -> list[float]:
        return [
            run.pass_time(p) for p in range(passes)
            if any(o["pass"] == p and o["traced"] == traced for o in run.ops)
        ]

    lat = wl.latencies([o for o in run.ops if o["pass"] >= 0 and not o["traced"]])
    e2e = {
        "setup_s": setup,
        "pass_s": _median(pass_times(False)),
        "op_p50_s": _median(lat),
    }
    table = {"op_samples": len(lat), "passes": len(pass_times(False))}
    if isinstance(wl, NightlyWorkload):
        table.update(wl.table())

    layers = {}
    if args.trace:
        traced = pass_times(True)
        n = len(traced)
        layers = {
            "session.start_s": t1 - t0,
            "registry.import_s": t2 - t1,
            "warmup_s": warmup,
        }
        layers.update(wl.layer_metrics(n))
        if isinstance(wl, NightlyWorkload):
            layers.update({f"nightly.{k}": v for k, v in wl.table().items()})
        layers["trace.pass_s"] = _median(traced)
        layers["trace.overhead_frac"] = (
            _median(traced) / e2e["pass_s"] - 1.0 if e2e["pass_s"] else 0.0
        )
    spark.stop()
    if args.trace:
        layers.update(fold_event_log(os.path.join(args.run_dir, "eventlog"), run.groups))
        for k in ("spark.jobs", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
                  "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                  "spark.spill_bytes"):
            layers[k] /= max(1, len(traced))
        run.tracer.write(args.spans_out)

    self_check = bool(run.self_check)
    result = {
        "correct": not run.failed_ops and self_check,
        "attempted": run.attempted,
        "failed": len(run.failed_ops),
        "self_check": self_check,
        "problems": run.problems,
        "inputs": inputs,
        "e2e": e2e,
        "table": table,
        "layers": layers,
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
