"""webr benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
ones, taken from a run with job tagging and Spark's event log on. The
full record (provenance, samples, checks, spans) goes to
``.perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

END_TO_END = ["setup_s", "peak_rss_mb", "throughput_per_s",
              "latency_p50_ms", "quality"]
UNITS = {"setup_s": "s", "peak_rss_mb": "MiB", "throughput_per_s": "1/s",
         "latency_p50_ms": "ms", "quality": "ratio"}
DEADLINE_S = 170  # a run must end within 180 s
RESULTS_DIR = os.path.join(ROOT, ".perfbench", "results")
# The driver heap is fixed at 1 GiB (-Xms = -Xmx) instead of the program's
# 16g default, so peak_rss_mb does not depend on when G1 grows the heap:
# with the default, peak RSS spread 12-24 % (IQR / median) across seeds,
# against 0.5-1.3 % with the fixed heap
DRIVER_MEM = "1g"


class RunTimeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise RunTimeout(f"run exceeded {DEADLINE_S} s")


def _sha(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def source_shas() -> dict[str, str]:
    """Hashes of the program's and the benchmark's sources."""
    return {
        "webr_source_sha": _sha(glob.glob(
            os.path.join(ROOT, "webr", "**", "*.py"), recursive=True)),
        "perfbench_source_sha": _sha(glob.glob(os.path.join(HERE, "*.py"))),
    }


def _launch_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    run directory, and turn the event log on for a traced run. Must run
    before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "WEBR_DRIVER_MEM": DRIVER_MEM,
        # spark-submit's launcher JVM: no perf-data file in /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Bench:
    """State of one invocation, handed to the workload function."""

    def __init__(self, args, run_dir: str):
        from tracing import Tracer
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scale = args.scale
        self.run_dir = run_dir
        self.results_dir = RESULTS_DIR
        self.sources = source_shas()
        self.tracer = Tracer(self.traced)
        self.force_check_failure = bool(
            os.environ.get("PERFBENCH_FORCE_CHECK_FAILURE"))
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.shuffle_partitions = 2 * self.cores

    # -- set-up ------------------------------------------------------------
    def start_session(self) -> None:
        t0 = time.monotonic()
        from webr.session import get_spark
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]",
                               shuffle_partitions=self.shuffle_partitions)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.detail["app_id"] = self.spark.sparkContext.applicationId
        with self.tracer.span("session"):
            self.spark.range(1).count()
        self.setup["session_s"] = time.monotonic() - t0

    def repeated_setup(self, name: str, fn, reps: int = 3):
        """Run an input-building step ``reps`` times; record the median
        wall under ``name``; return the last result."""
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            out = fn()
            walls.append(time.monotonic() - t0)
        self.setup[name] = statistics.median(walls)
        return out

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- measurement -------------------------------------------------------
    def loop(self, min_iters: int = 1, seconds: float | None = None):
        """Yield iteration numbers until ``seconds`` (default: the run's)
        are spent: another iteration starts only if it is expected (by the
        longest so far) to end inside the budget."""
        budget = self.seconds if seconds is None else seconds
        t_start = time.monotonic()
        longest = 0.0
        i = 0
        while i < min_iters or (time.monotonic() - t_start
                                + longest <= budget):
            t0 = time.monotonic()
            yield i
            longest = max(longest, time.monotonic() - t0)
            i += 1
        self.detail["measured_s"] = (self.detail.get("measured_s", 0.0)
                                     + time.monotonic() - t_start)

    def check(self, ok: bool) -> bool:
        """Count one attempted operation; failed unless its output check
        passed."""
        ok = ok and not self.force_check_failure
        self.attempted += 1
        self.failed += not ok
        return ok


def _provenance(b: Bench) -> dict:
    import pyspark
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    java = driver_memory = None
    if b.spark is not None:
        java = b.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version")
        driver_memory = b.spark.sparkContext.getConf().get(
            "spark.driver.memory")
    return {
        "nproc": os.cpu_count(),
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
        "spark_master": f"local[{b.cores}]",
        "shuffle_partitions": b.shuffle_partitions,
        "driver_memory": driver_memory,
        "webr_overlap_stages": os.environ.get("WEBR_OVERLAP_STAGES"),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": sys.version.split()[0],
        "git_commit": commit,
        **b.sources,
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }


def _stop_spark(b: Bench) -> None:
    """Stop Spark, then the JVM gateway process, and wait for both."""
    if b.spark is None:
        return
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        b.spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _earlier_untraced(workload: str, scale: float) -> list[float]:
    """throughput_per_s of the earlier correct untraced runs of this
    workload, scale and source in the results directory."""
    sources = source_shas()
    out = []
    for p in glob.glob(os.path.join(RESULTS_DIR,
                                    f"{workload}-seed*-trace0-*.json")):
        try:
            with open(p) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        prov = r.get("provenance", {})
        if (r.get("correct") and r.get("scale") == scale
                and all(prov.get(k) == v for k, v in sources.items())):
            out.append(r["end_to_end"]["throughput_per_s"])
    return out


def _untraced_twin(argv: list[str]) -> float:
    """Run this invocation again with tracing off, in a child process that
    ends before the traced run starts; return its throughput_per_s."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__), *argv,
                        "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True,
                       timeout=DEADLINE_S)
    if p.returncode != 0:
        raise RuntimeError(f"untraced run failed: {p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return res["metrics"]["throughput_per_s"]["value"]


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["er_batch", "driver_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size (default: per workload, see README)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "webr", "engine.py")):
        print(f"perfbench: no webr package under {ROOT}; run from the root "
              f"of a webr checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from procs import TreeRss, wait_gone

    if args.scale is None:
        args.scale = workloads.DEFAULT_SCALE[args.workload]
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    # tracing overhead: against the median of the earlier untraced runs of
    # the same code, or else against the same invocation untraced, run
    # first so the two never share the host
    untraced = []
    if args.trace:
        untraced = (_earlier_untraced(args.workload, args.scale)
                    or [_untraced_twin(argv)])
    synth_sha = _sha([os.path.join(ROOT, "webr", "synth.py")])
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs",
        f"{args.workload}-seed{args.seed}-scale{args.scale}-synth{synth_sha}"
        f"-pid{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _launch_env(run_dir, bool(args.trace))

    b = Bench(args, run_dir)
    rss = TreeRss()
    rss.start()
    try:
        try:
            t0 = time.monotonic()
            b.start_session()
            getattr(workloads, args.workload)(b)
            b.detail["wall_s"] = time.monotonic() - t0
            provenance = _provenance(b)
        finally:
            signal.alarm(0)
            rss.stop()
            try:
                _stop_spark(b)
            finally:
                wait_gone(rss.seen)
        b.metrics["peak_rss_mb"] = rss.peak_kib / 1024
        b.metrics["setup_s"] = sum(b.setup.values())
        if b.traced:
            # the event log is complete once the context has stopped
            workloads.fold_trace(b)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if b.traced:
        b.layers["trace.overhead_frac"] = (
            statistics.median(untraced) / b.metrics["throughput_per_s"] - 1.0)
        b.detail["untraced_throughput_per_s"] = untraced
    record = {
        "workload": args.workload, "seed": args.seed, "scale": b.scale,
        "seconds": args.seconds, "trace": args.trace,
        "correct": b.failed == 0, "attempted": b.attempted,
        "failed": b.failed,
        "failed_frac": b.failed / max(b.attempted, 1),
        "end_to_end": b.metrics, "setup": b.setup, "per_layer": b.layers,
        "provenance": provenance, "detail": b.detail,
        "spans": b.tracer.spans,
    }
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stamp = dt.datetime.now().strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
            RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                     f"{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if args.trace:
        from workloads import PER_LAYER
        metrics = {n: {"value": b.layers.get(n, 0.0), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": b.metrics[n], "unit": UNITS[n]}
                   for n in END_TO_END}
    summary = {k: record[k] for k in ("workload", "seed", "scale", "trace",
                                      "failed_frac", "end_to_end", "setup",
                                      "provenance")}
    print(json.dumps(summary, default=str))
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
