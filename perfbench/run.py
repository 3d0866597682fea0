"""Curation benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload curate_cold --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout on local[nproc] with a 4g driver heap, one
closed-loop client (one program call at a time). Inputs are generated from
--seed inside the benchmark's own directory. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; metrics are the
`end_to_end` list of BENCHMARK.json with --trace 0, the `per_layer` list with
--trace 1 (0 for a layer the workload does not exercise). The line before it
carries run details (cores, heap, sample count, per-unit walls).

--smoke shrinks every input (at most a few hundred clips, one query) for a quick
self-test; see perfbench/test_smoke.py.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
CACHE = os.path.join(BENCH_DIR, ".cache")
HEAP = "4g"  # fits every workload; session.get_spark pre-touches it
WORKLOADS = ("curate_cold", "analytics_queries", "clip_features")


class Context:
    """What a workload needs: session, seed, run length, tracer, and the
    attempted/failed tally of its correctness checks."""

    def __init__(self, args, cores: int, tracer):
        self.spark = None  # set once the session has started
        self.cores, self.tracer = cores, tracer
        self.seed, self.seconds = args.seed, args.seconds
        self.trace, self.smoke = bool(args.trace), args.smoke
        self.root, self.cache_dir = ROOT, CACHE
        self.attempted = self.failed = 0
        self.setup_s: float | None = None
        self.sampler = None

    def out_dir(self, name: str) -> str:
        path = os.path.join(WORK, "out", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START

    def rss(self):
        from spans import RssSampler

        self.sampler = RssSampler()
        return self.sampler


def _contain_scratch() -> None:
    """Keep Spark's scratch files inside the benchmark's work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # later -D flags win: this overrides the JVM tmpdir get_spark fixes
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def start_session(cores: int):
    from datasmith_spark import session

    real_makedirs = os.makedirs

    def makedirs_in_checkout(path, *a, **kw):
        # get_spark creates its fixed JVM tmpdir, which can lie outside the
        # checkout; the JVM uses the one _contain_scratch set instead
        if os.path.abspath(path).startswith(ROOT + os.sep):
            real_makedirs(path, *a, **kw)

    os.makedirs = makedirs_in_checkout
    try:
        spark = session.get_spark(app="perfbench", cores=cores, driver_mem=HEAP)
    finally:
        os.makedirs = real_makedirs
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then wait until every process this run started has ended:
    the JVM, the Python workers it forked, and the input pool's helper."""
    from pyspark import SparkContext
    from spans import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the work is done: what outlives the JVM (its orphaned workers, the
    # multiprocessing resource tracker) is stopped rather than waited for
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break  # every child has ended and been reaped
    deadline = time.time() + 30
    while any(_alive(pid) for pid in started) and time.time() < deadline:
        time.sleep(0.05)  # orphans are reaped by init


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _contain_scratch()
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    sys.path.insert(0, ROOT)
    import analytics
    import curate
    import features
    from spans import Tracer

    workload = {"curate_cold": curate, "analytics_queries": analytics,
                "clip_features": features}[args.workload]
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    ctx = Context(args, cores, tracer)
    # input preparation needs no session: overlap it with session start
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(workload.prepare, ctx)
        t0 = time.perf_counter()
        spark = start_session(cores)
        session_s = time.perf_counter() - t0
        try:
            prep = prepared.result()
        except BaseException:
            stop_session(spark)
            raise
    try:
        ctx.spark = spark
        values = workload.run(ctx, prep)
    finally:
        stop_session(spark)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "driver_heap": HEAP,
        "samples": values.pop("samples", None), "unit_walls_s": values.pop("unit_walls_s", None),
    }
    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
        values["session.start_s"] = session_s
        wanted = spec["per_layer"]
    else:
        values["setup_s"] = ctx.setup_s
        # per-unit peaks; their median when a longer --seconds times several
        values["peak_rss_gb"] = statistics.median(ctx.sampler.unit_peaks) / 1e9
        wanted = spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)) if args.trace
                    else float(values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
