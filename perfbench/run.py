"""Benchmark command: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload nightly_load --seed 1 --seconds 18 --trace 0

Starts `perfbench/worker.py` in a child process whose TMPDIR, Spark local
dirs, JVM tmpdir, warehouse and (when traced) event log all live in a fresh
per-run directory under `.perfbench_runs/`, samples the peak memory (PSS) of the
child's whole process tree, counts what the workload left in TMPDIR, then
removes the run directory.  Prints a metric table, then, as the last line,
the JSON result: the `end_to_end` metrics of BENCHMARK.json with
`--trace 0`, its `per_layer` metrics with `--trace 1`.  Spans of a traced
run go to `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
#: Driver heap: Xmx is a cap, sized for a 15 GB host shared with others.
DRIVER_MEMORY = "4g"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _children() -> dict[int, list[int]]:
    """Child pids of every process, from one scan of /proc."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            out.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(d))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak, over samples taken every 0.25 s, of the summed proportional
    set size (PSS) of the worker's process tree: the worker, its JVM and
    the JVM's Python workers.  PSS splits pages shared between forked
    Python workers, so they are not counted once per worker."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            children = _children()
            todo, seen, total = [self.root], set(), 0
            while todo:
                pid = todo.pop()
                if pid in seen:
                    continue
                seen.add(pid)
                total += _pss_kb(pid)
                todo.extend(children.get(pid, []))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(0.25)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def _spark_conf(conf_dir: str, run_dir: str, tmp: str, trace: bool) -> None:
    os.makedirs(conf_dir)
    lines = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir {log_dir}",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = warn\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\nappender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--inject-corruption", type=int, choices=(0, 1), default=0,
        help="corrupt one output value before the gate; the run must then report failures",
    )
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trafsys_data_transfer_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        if args.workload not in json.load(f)["workloads"]:
            print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
            return 2

    # On SIGTERM unwind through the finally blocks that stop the worker.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(root, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}_", dir=runs)
    try:
        return _run(args, bench, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def _run(args, bench: dict, root: str, run_dir: str) -> int:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    conf = os.path.join(run_dir, "conf")
    _spark_conf(conf, run_dir, tmp, bool(args.trace))
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_NO_MASTER", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inject-corruption", str(args.inject_corruption), "--run-dir", run_dir,
    ]
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        cmd += ["--spans-out", os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")]
    cpu_before = _cpu_times()
    child = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, start_new_session=True)
    rss = PeakRss(child.pid)
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        peak_mb = rss.stop()
        # Stop the whole tree (JVM, Python workers) and wait for it.
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    if code != 0:
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}", file=sys.stderr)
        return 1
    # Share of CPU time the hypervisor gave to others while the run ran:
    # a diagnostic for a noisy host, not a metric.
    delta = [b - a for a, b in zip(cpu_before, _cpu_times())]
    steal = delta[7] / sum(delta) if sum(delta) else 0.0
    tmp_left = len(os.listdir(tmp))
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    e2e = res["e2e"]
    layers = dict(res["layers"], **{"tmp.dirs_left": tmp_left, "mem.peak_pss_mb": peak_mb})
    table = {**e2e, **res["table"], "peak_pss_mb": peak_mb, "tmp_dirs_left": tmp_left,
             "failed_frac": res["failed"] / res["attempted"], "host_cpu_steal_frac": steal}
    for k, v in table.items():
        print(f"{args.workload:14s} {k:22s} {v:.6g}")
    for p in res["problems"]:
        print(f"{args.workload:14s} FAILED {p}", file=sys.stderr)
    if not res["self_check"]:
        print(f"{args.workload:14s} gate self-check did not catch an injected corruption", file=sys.stderr)

    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec
    }
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
