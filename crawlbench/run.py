"""Crawl-engine benchmark runner.

    python3 crawlbench/run.py --workload crawl_snapshot|recrawl_tick|curation_queries \
        --seed N --seconds S --trace 0|1 [--scale F]

Run from the repository root. One Spark session sized to the host
(``local[<cpus in the affinity mask>]``, driver heap about half of
``MemTotal``), inputs built from ``--seed``, one untimed warm-up pass, then
closed-loop passes (one client; each pass starts when the previous one
ends) for ``--seconds``. Every pass's output is checked outside the timed
window. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). A full record of
the run is written to ``crawlbench/results/``. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import importlib.util
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# Inputs are built at least SETUP_REPEATS times and for at least
# SETUP_MIN_S, so that a setup of a few milliseconds still gets a steady median.
SETUP_REPEATS = 5
SETUP_MIN_S = 2.0
# Retained storage is read once this many samples in a row equal the one before.
STABLE_SAMPLES = 3
# Once the run is over, its processes get STOP_GRACE_S to end by themselves,
# then SIGTERM, then after STOP_TERM_S more, SIGKILL.
STOP_GRACE_S = 30.0
STOP_TERM_S = 10.0
PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {
    "pass_s": ("s", "lower"), "items_per_s": ("1/s", "higher"), "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"), "retained_storage_mb": ("MB", "lower"),
}

# name: (unit, better). Work counts that a workload fixes (pages in, keys
# probed) count as 'higher': a change that does less of the same work is
# doing less of the workload.
PER_LAYER = {
    "crawl.rounds": ("count", "lower"),
    "crawl.jobs": ("count", "lower"),
    "crawl.driver_gap_ms": ("ms", "lower"),
    "listparse.busy_ms": ("ms", "lower"),
    "listparse.pages_in": ("count", "higher"),
    "listparse.rows_out": ("count", "higher"),
    "listparse.python_mb": ("MB", "lower"),
    "seen.busy_ms": ("ms", "lower"),
    "seen.keys_probed": ("count", "higher"),
    "seen.survivor_ratio": ("ratio", "higher"),
    "seen.fill_ratio": ("ratio", "lower"),
    "seen.est_fpr": ("ratio", "lower"),
    "seen.false_drops": ("count", "lower"),
    "politeness.busy_ms": ("ms", "lower"),
    "politeness.salted_hosts": ("count", "higher"),
    "politeness.task_skew": ("ratio", "lower"),
    "politeness.min_host_gap_ms": ("ms", "higher"),
    "extract.busy_ms": ("ms", "lower"),
    "extract.ms_per_page": ("ms", "lower"),
    "extract.python_mb": ("MB", "lower"),
    "extract.ok_ratio": ("ratio", "higher"),
    "fetch.busy_ms": ("ms", "lower"),
    "fetch.requests": ("count", "lower"),
    "fetch.attempts_per_url": ("ratio", "lower"),
    "fetch.error_ratio": ("ratio", "lower"),
    "fetch.server_ms_p50": ("ms", "lower"),
    "cadence.write_ms": ("ms", "lower"),
    "cadence.seen_mb": ("MB", "lower"),
    "upsert.busy_ms": ("ms", "lower"),
    "upsert.rows_in": ("count", "higher"),
    "upsert.partitions_touched": ("count", "lower"),
    "upsert.mb_written": ("MB", "lower"),
    "dedup.q15_ms": ("ms", "lower"),
    "dedup.q16_ms": ("ms", "lower"),
    "dedup.q33_ms": ("ms", "lower"),
    "dedup.q15_exchange_mb": ("MB", "lower"),
    "dedup.q16_exchange_mb": ("MB", "lower"),
    "dedup.q33_exchange_mb": ("MB", "lower"),
    "dedup.candidate_rows": ("count", "lower"),
    "dedup.exchange_mb": ("MB", "lower"),
    "dedup.python_mb": ("MB", "lower"),
    "dedup.task_skew": ("ratio", "lower"),
    "dedup.recall_q15": ("ratio", "higher"),
    "dedup.recall_q16": ("ratio", "higher"),
    "similarity.ann_ms": ("ms", "lower"),
    "similarity.exact_ms": ("ms", "lower"),
    "similarity.candidate_rows": ("count", "lower"),
    "similarity.ann_recall_at_10": ("ratio", "higher"),
    "textstats.q09_ms": ("ms", "lower"),
    "textstats.q09_exchange_mb": ("MB", "lower"),
    "webquality.q36_ms": ("ms", "lower"),
    "webquality.q36_exchange_mb": ("MB", "lower"),
    "curation.q45_ms": ("ms", "lower"),
    "curation.q45_exchange_mb": ("MB", "lower"),
    "corpus_quality.q46_ms": ("ms", "lower"),
    "corpus_quality.q46_exchange_mb": ("MB", "lower"),
    "corpus_quality.q49_ms": ("ms", "lower"),
    "corpus_quality.q49_exchange_mb": ("MB", "lower"),
    "retrieval.q50_ms": ("ms", "lower"),
    "retrieval.q50_exchange_mb": ("MB", "lower"),
    "storage.materialized_mb": ("MB", "lower"),
    "storage.retained_mb": ("MB", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}


@dataclass
class Context:
    spark: object
    status: object
    work_dir: str
    seed: int
    scale: float
    cpus: int


def host_facts() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "cpus": cpus, "mem_total_mb": mem_kb // 1024,
        "driver_heap_mb": mem_kb // 1024 // 2,
        "python": platform.python_version(), "platform": platform.platform(),
    }


def configure_env(facts: dict, work_dir: str) -> None:
    """Size the engine's session to the host from outside the engine, and
    keep Spark's scratch space inside the benchmark's work dir."""
    local, tmp = os.path.join(work_dir, "spark-local"), os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(facts["cpus"])
    os.environ["SPARK_DRIVER_MEM"] = f"{facts['driver_heap_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so that a
    process orphaned when its parent ends (the Python daemon and workers of
    a stopped JVM) is re-parented here and can be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes() -> list[int]:
    """End every process the run started and wait for each; returns the pids
    still alive when even SIGKILL did not end them.

    The JVM exits when its stdin closes; its Python daemon exits when the
    JVM's pipe to it closes, and the daemon's workers on its SIGHUP. As a
    subreaper this process sees each of them as a child in turn."""
    from crawlbench.harness import process_table

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
    except Exception:
        traceback.print_exc()
    t0 = time.monotonic()
    signalled: set[tuple[int, int]] = set()
    while True:
        _reap()
        kids = [pid for pid, (ppid, _) in process_table().items() if ppid == os.getpid()]
        if not kids:
            return []
        elapsed = time.monotonic() - t0
        if elapsed > STOP_GRACE_S + 2 * STOP_TERM_S:
            return kids
        if elapsed > STOP_GRACE_S:
            sig = signal.SIGKILL if elapsed > STOP_GRACE_S + STOP_TERM_S else signal.SIGTERM
            for pid in kids:
                if (pid, sig) not in signalled:
                    signalled.add((pid, sig))
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # runs the finally blocks that stop the processes


def engine_present() -> bool:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return all(importlib.util.find_spec(m) is not None
               for m in ("pyspark", "politics_crawler_spark", "__spark_entry__"))


def run(args, facts, work_dir) -> dict:
    from crawlbench.harness import StatusStore, Tracer, TreeMemory, median

    from politics_crawler_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"crawlbench-{args.workload}",
                      master=f"local[{facts['cpus']}]", shuffle_partitions=facts["cpus"])
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    facts = dict(facts, pyspark=spark.version,
                 java=jvm.System.getProperty("java.version"), session_s=session_s)
    status = StatusStore(spark)
    ctx = Context(spark, status, work_dir, args.seed, args.scale, facts["cpus"])
    if args.workload == "curation_queries":
        from crawlbench.curation import CurationQueries as W
    elif args.workload == "crawl_snapshot":
        from crawlbench.crawl import CrawlSnapshot as W
    else:
        from crawlbench.crawl import RecrawlTick as W
    wl = W(ctx)

    def cleanup() -> float:
        """The pass's own cleanup, then the storage memory it left held.

        Python and JVM garbage collection run again before every sample: a
        dropped DataFrame frees its JVM objects only after Python collects
        it, and the ContextCleaner frees their blocks only after a JVM GC.
        The value counts once STABLE_SAMPLES samples in a row equal the one
        before."""
        held, same = status.storage_mb(), 0
        for _ in range(40):
            gc.collect()
            jvm.System.gc()
            time.sleep(0.15)  # the cleaner and the status store work asynchronously
            held, before = status.storage_mb(), held
            same = same + 1 if held == before else 0
            if same >= STABLE_SAMPLES:
                break
        return held

    passes = []
    try:
        with TreeMemory() as mem:
            setup_s = []
            while len(setup_s) < SETUP_REPEATS or sum(setup_s) < SETUP_MIN_S:
                t = time.perf_counter()
                wl.setup()
                setup_s.append(time.perf_counter() - t)
            wl.prepare_checks()
            warm = wl.run_pass(Tracer(None), traced=False)
            warm.update(kind="warmup", traced=False)
            passes.append(warm)
            cleanup()
            deadline = time.monotonic() + args.seconds
            i = 0
            while not i or time.monotonic() < deadline:
                tracer = Tracer(status if args.trace else None)
                p = wl.run_pass(tracer, bool(args.trace))
                p.update(kind="measured", traced=bool(args.trace), retained_mb=cleanup())
                if args.trace:
                    p.update(trace_overhead_pct=tracer.overhead_pct(), spans=tracer.finish())
                passes.append(p)
                i += 1
    finally:
        try:
            wl.close()
        finally:
            spark.stop()

    measured = [p for p in passes if p["kind"] == "measured"]
    failed = sum(1 for p in passes if p["errors"])
    walls = [p["wall_s"] for p in measured]
    e2e = {
        "pass_s": median(walls),
        "items_per_s": median([p["items"] / p["wall_s"] for p in measured]),
        "setup_s": median(setup_s),
        "peak_rss_mb": mem.peak_mb,
        "retained_storage_mb": median([p["retained_mb"] for p in measured]),
    }
    layers = {}
    if args.trace:
        for name in PER_LAYER:
            vals = [p["layers"][name] for p in measured if name in p["layers"]]
            layers[name] = median(vals) if vals else 0.0
        layers["storage.materialized_mb"] = median([p["materialized_mb"] for p in measured])
        layers["storage.retained_mb"] = median([p["retained_mb"] for p in measured])
        layers["trace.overhead_pct"] = median([p["trace_overhead_pct"] for p in measured])
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "result": {
            "correct": failed == 0, "attempted": len(passes), "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k][0]} for k in units},
        },
        "record": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "host": facts,
            "setup_s": setup_s,
            "recall": median([p["recall"] for p in measured]),
            "ops_failed_ratio": failed / len(passes), "end_to_end": e2e, "per_layer": layers,
            "passes": passes,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_snapshot", "recrawl_tick", "curation_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use small values)")
    args = ap.parse_args(argv)

    if not engine_present():
        print("crawlbench: the engine (politics_crawler_spark, __spark_entry__, pyspark) "
              f"is not importable from {ROOT}", file=sys.stderr)
        return 2
    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    facts = host_facts()
    work_dir = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    configure_env(facts, work_dir)
    out = None
    try:
        out = run(args, facts, work_dir)
    except Exception:
        traceback.print_exc()
    finally:
        left = stop_processes()
        shutil.rmtree(work_dir, ignore_errors=True)
    if left:
        print(f"crawlbench: processes {left} did not end", file=sys.stderr)
        return 1
    if out is None:
        return 1
    res_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(res_dir, exist_ok=True)
    path = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(dict(out["record"], result=out["result"]), f, indent=1, default=str)
    for p in out["record"]["passes"]:
        for e in p["errors"][:5]:
            print(f"check failed ({p['kind']} pass): {e}", file=sys.stderr)
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
