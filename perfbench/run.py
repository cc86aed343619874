"""Benchmark runner.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (or ``all``) as a single client in a closed loop for
``--seconds`` seconds of measured operations, checks every output, and
prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics from a run with the Spark event log on.  Exit code 0
means every check passed; 1 means a check failed or an operation raised
(the JSON line is still printed); 2 means the package sources are not
next to this directory (nothing is printed).

Everything the run writes goes under ``.perfbench_work/`` at the root of
the checkout and is removed when the run ends.  See perfbench/README.md
for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3
DEADLINE_S = 120.0  # stop starting new operations after this much run time


def _driver_memory() -> str:
    """A quarter of host RAM, at most 2 GiB: Spark's default in this
    package is 16g, more than small hosts have."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{min(2048, total_kb // 4096)}m"


def configure_env(work: Path, trace: bool) -> None:
    """Size Spark for this host and keep every file it writes in ``work``.
    Must run before the JVM starts."""
    tmp = work / "tmp"
    for d in (tmp, work / "local", work / "events", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["SPARK_DRIVER_MEMORY"] = _driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    confs = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _is_jvm(pid: int) -> bool:
    return _exe(pid).endswith("/java")


def process_tree(root: int) -> list[int]:
    """``root`` and its descendants, without the short-lived clones the
    JVM makes while spawning a command: until they exec they run the JVM
    binary and share its memory, so counting them would count the JVM
    twice."""
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        is_jvm = _is_jvm(pid)
        todo += [c for c in _children(pid) if not (is_jvm and _is_jvm(c))]
    return seen


def _resident_bytes(pid: int) -> int:
    """PSS (proportional set size) of a Python process: the daemon's
    forked workers share pages with it, and PSS counts a shared page once
    in total.  RSS of the JVM, which shares its pages with no other
    process of the tree: a PSS walk of its address space takes ~25 ms,
    enough to slow what is measured."""
    try:
        if _is_jvm(pid):
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the summed resident memory of the process tree rooted at
    this process (it, the JVM, the Python workers) every ``interval``
    seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_resident_bytes(p) for p in process_tree(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Bench:
    """Owns the Spark session across set-up repetitions."""

    def __init__(self):
        self.spark = None
        self.session_starts: list[float] = []

    def start_session(self) -> float:
        from ida_dataengineerproject_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_starts.append(time.perf_counter() - t0)
        return time.time()

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process this
        run started to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in descendants:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def run_workload(name: str, args, bench: Bench, work: Path, rss: PeakRss) -> dict:
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(name, enabled=bool(args.trace))
    w = WORKLOADS[name](bench, tracer, str(work), args.scale, args.corrupt_expected)

    # set-up: session start, seeded inputs and one-time layouts, repeated;
    # setup_s is their median (the first also launches the JVM)
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        session_t0 = bench.start_session()
        tracer.sc = bench.spark.sparkContext
        w.make_inputs(args.seed)
        w.layouts()
        setups.append(time.perf_counter() - t0)

    op_s: list[float] = []
    failures: list[str] = []
    attempted = failed = rows = mem_peak = 0
    started = time.perf_counter()
    while sum(op_s) < args.seconds and time.perf_counter() - started < DEADLINE_S:
        attempted += 1
        t0 = time.perf_counter()
        try:
            rows += w.op(len(op_s))
        except Exception as exc:  # noqa: BLE001 — report the failed operation
            failures.append(f"operation raised {type(exc).__name__}: {exc}")
            failed += 1
            break
        op_s.append(time.perf_counter() - t0)
        mem_peak = rss.peak  # set-up and operations; the checks are not the program's
        fails = w.verify_op()
        failures += fails
        failed += bool(fails)

    t0 = time.perf_counter()
    run_fails = w.verify_run()  # checks the outputs kept by the first operation
    failures += run_fails
    failed += bool(run_fails)
    print(
        f"perfbench: {name}: set-ups {[round(x, 2) for x in setups]} s, "
        f"ops {[round(x, 2) for x in op_s]} s, run check {time.perf_counter() - t0:.2f} s",
        file=sys.stderr,
    )
    result = {"workload": name, "attempted": attempted, "failed": failed, "failures": failures}
    if not op_s:
        return {**result, "metrics": {}}
    if args.trace:
        metrics, count_fails = layer_metrics(w, tracer, bench, work, session_t0, op_s)
        result["failures"] += count_fails
        result["failed"] += bool(count_fails)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "op_s": {"value": statistics.median(op_s), "unit": "s"},
            "rows_per_s": {"value": rows / sum(op_s), "unit": "1/s"},
            "peak_rss_mb": {"value": mem_peak / 2**20, "unit": "MB"},
        }
    return {**result, "metrics": metrics}


def layer_metrics(w, tracer, bench, work, session_t0, op_s) -> tuple[dict, list[str]]:
    """Per-layer metrics of a traced run: the seven counters of every
    span of every workload (0 where this workload does not enter the
    layer), the ingest counts, the cold session start, and the operation
    latency under tracing (its difference from an untraced run's
    ``op_s`` is the tracing overhead)."""
    from perfbench.spans import COUNTER_UNITS, read_event_log, span_counters, summarize
    from perfbench.workloads import ALL_SPANS, ETL_COUNTS

    counts = dict.fromkeys(ETL_COUNTS, 0)
    got, fails = w.counts()
    counts.update(got)
    app_id = bench.spark.sparkContext.applicationId
    bench.spark.stop()  # flushes and closes the event log
    bench.spark = None
    events = read_event_log(str(work / "events" / app_id))
    spans = [s for s in tracer.spans if s.start >= session_t0]  # the last session's
    flat = summarize(span_counters(spans, events, w.name), list(ALL_SPANS))
    out = {k: {"value": v, "unit": COUNTER_UNITS[k.rsplit(".", 1)[1]]} for k, v in flat.items()}
    for k, v in counts.items():
        out[k] = {"value": v, "unit": "ratio" if k.endswith("_per_cell") else "count"}
    out["session.start_s"] = {"value": bench.session_starts[0], "unit": "s"}
    out["trace.op_s"] = {"value": statistics.median(op_s), "unit": "s"}
    return out, fails


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["etl_ingest", "operator_mix", "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: sf0.001 tables and a ~10^3-cell corpus (self-test)")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test: falsify every expected result, so every check must fail")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ida_dataengineerproject_spark" / "session.py").is_file() or not (
        ROOT / "tools" / "parity.py"
    ).is_file():
        print(f"perfbench: package sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / str(os.getpid())
    configure_env(work, bool(args.trace))
    for p in (str(ROOT), str(ROOT / "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)

    names = ["etl_ingest", "operator_mix"] if args.workload == "all" else [args.workload]
    bench = Bench()
    results = []
    try:
        with PeakRss() as rss:
            for name in names:
                results.append(run_workload(name, args, bench, work, rss))
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    for r in results:
        for f in r["failures"]:
            print(f"perfbench: {r['workload']}: FAILED {f}", file=sys.stderr)
    ok = all(not r["failures"] and r["failed"] == 0 for r in results)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        for r in results:
            print(json.dumps({"workload": r["workload"], "metrics": r["metrics"]}))
        metrics = {f"{r['workload']}/{k}": v for r in results for k, v in r["metrics"].items()}
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
