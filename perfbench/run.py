"""Benchmark entry point.

    python3 perfbench/run.py --workload term_search --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the inputs from ``--seed``,
starts a local Spark session, sets the workload up, repeats its round of
operations for ``--seconds`` seconds, checks every output, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
the metrics named in BENCHMARK.json (``end_to_end`` with ``--trace 0``,
``per_layer`` with ``--trace 1``). The line before it holds per-kind
detail. All files go to ``.perfbench-work/`` under the repository root;
``--trace 1`` also leaves its spans there as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from spans import NullTracer, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
PROBE_REF_MS = 10.0  # reference host speed; the fastest host_probe_ms of a run
# reads 6.5-7 ms on the 4-core host of the README's figures when quiet


def process_age_s() -> float:
    """Seconds since this process started (the kernel's start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """One run: the Spark session, the op log, the checks."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.ops: dict[str, list[float]] = {}
        self.probe: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._hits = self._buckets = None
        t = time.perf_counter()
        self.spark = start_spark(work)
        self.tr = Tracer(self.spark.sparkContext) if args.trace else NullTracer()
        self.tr.add("session.start_s", time.perf_counter() - t)

    def op(self, kind: str, fn):
        """Time one operation of the closed loop, after a host probe."""
        self.probe.append(host_probe_ms())
        t = time.perf_counter()
        with self.tr.request(kind):
            out = fn()
        self.ops.setdefault(kind, []).append(time.perf_counter() - t)
        self.attempted += 1
        return out

    def attempt(self, failed: bool) -> None:
        """An operation whose result is a pass/fail comparison (no timing)."""
        self.attempted += 1
        self.failed += int(failed)

    def check(self, label: str, verdict: str | None) -> None:
        if verdict is not None:
            self.errors.append(f"{label}: {verdict}")

    def sample_hits(self, got, docs, scores, k) -> None:
        if self._hits is None and got:
            self._hits = (got, docs, scores, k)

    def sample_buckets(self, got, exp) -> None:
        if self._buckets is None and got:
            self._buckets = (got, exp)

    def reset(self) -> None:
        """Forget warm-up operations (their checks stay)."""
        self.ops.clear()
        self.probe.clear()
        self.attempted = self.failed = 0


def start_spark(work: str):
    from elasticsearch_assets_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def host_probe_ms() -> float:
    """A fixed single-threaded CPU task (a pure-Python loop and a numpy
    sort; no engine code) timed before every operation: how fast the
    shared host runs this process at that moment."""
    t = time.perf_counter()
    x = 0
    for i in range(100_000):
        x += i * i
    np.sort(np.random.default_rng(0).random(100_000))
    return (time.perf_counter() - t) * 1e3


def median_ms(xs) -> float:
    return statistics.median(xs) * 1e3


def round_ms(bench: Bench, wl) -> float:
    """One round of the workload's fixed operation mix: the sum over its
    operation kinds of count-per-round x the kind's median."""
    return sum(n * median_ms(bench.ops[k]) for k, n in wl.ROUND.items())


def kind_geomean_ms(bench: Bench, wl) -> float:
    """The geometric mean over the workload's GROUPS of each group's
    median, so every group weighs the same whatever its share of the
    round: a slowdown f of one of n groups moves it by f ** (1 / n)."""
    groups = [[t for k in g for t in bench.ops[k]] for g in wl.GROUPS]
    return math.exp(statistics.fmean(math.log(median_ms(g)) for g in groups))


def end_to_end(bench: Bench, wl, setup_s: float, extra: dict) -> dict:
    """The timings of the window scaled to the reference host speed
    (PROBE_REF_MS over the run's fastest probe): the host's speed drifts
    by up to 1.5x between processes, and the probe follows it. The
    fastest, not the median: single probes also slow two-fold when the
    engine's own threads share the probe's core, and that differs from
    one process to the next."""
    scale = PROBE_REF_MS / min(bench.probe)
    return {
        "setup_s": setup_s,
        "round_norm_ms": scale * round_ms(bench, wl),
        "kind_geomean_norm_ms": scale * kind_geomean_ms(bench, wl),
        "index_bytes_per_doc": extra["index_bytes_per_doc"],
    }


def detail(bench: Bench, wl, extra: dict) -> dict:
    out = {
        "round_ms": round_ms(bench, wl),
        "kind_geomean_ms": kind_geomean_ms(bench, wl),
        "probe_min_ms": min(bench.probe),
    }
    out.update({f"{kind}_p50_ms": median_ms(ts) for kind, ts in sorted(bench.ops.items())})
    out.update({f"{kind}_n": len(ts) for kind, ts in sorted(bench.ops.items())})
    out.update({k: v for k, v in extra.items() if k != "index_bytes_per_doc"})
    return out


def measure(args, spec: dict, work: str) -> tuple[dict, dict]:
    """Set up, run the closed loop for --seconds, check; returns the result
    line and the detail line."""
    import oracle
    from workloads import JOB_METRICS, WORKLOADS

    bench = Bench(args, work)
    try:
        wl = WORKLOADS[args.workload](bench)
        wl.setup()
        bench.reset()
        setup_s = process_age_s()
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            wl.round()
        extra = wl.finish()
        if bench._hits is None:
            bench.errors.append("no sample for the checker self-test")
        else:
            bench.check(
                "checker self-test", oracle.self_test(bench._hits, bench._buckets)
            )
        if bench.tr.enabled:
            bench.tr.resolve_jobs(JOB_METRICS)
    finally:
        stop_spark(bench.spark)
    if not bench.tr.enabled:
        values, names = end_to_end(bench, wl, setup_s, extra), spec["end_to_end"]
    else:
        values = bench.tr.report([m["name"] for m in spec["per_layer"]])
        names = spec["per_layer"]
        bench.tr.dump(os.path.join(
            os.path.dirname(work), f"trace-{args.workload}-seed{args.seed}.json"
        ))
    for err in bench.errors[:20]:
        print("CHECK FAILED", err, file=sys.stderr)
    result = {
        "correct": not bench.errors,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names
        },
    }
    return result, detail(bench, wl, extra)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "elasticsearch_assets_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the engine has no package metadata: Python workers find it only
    # through PYTHONPATH, so set it before the JVM (and its workers) start.
    # Every temporary file of Python, the JVMs and Spark goes under `work`.
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    try:
        result, info = measure(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
