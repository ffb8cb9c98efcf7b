"""graft benchmark: one workload per process, end to end or traced.

    python3 perfbench/run.py --workload transcripts_batch --seed 1 \
        --seconds 5 --trace 0

Run from the root of a graft checkout. The process sets the session up
several times (reporting the median), runs one untimed warm-up pass,
then timed passes until ``--seconds`` have passed (at least one), checks
every pass's outputs against references computed once in set-up, and
prints one JSON object as its last stdout line. ``--trace 1`` instead
alternates traced and untraced passes and reports the per-layer
counters of the traced ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-ups per run; setup_s is their median


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc), else since import."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T0


def load1() -> float | None:
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes (Spark scratch, graft's spill and
    native-kernel cache, Python temp files) inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault(
        "GRAFT_CKERN_CACHE", os.path.join(ROOT, ".perfbench_work", "ckern")
    )
    import tempfile

    tempfile.tempdir = tmp


class CacheProbe:
    """Reads the session's cached blocks: ids of persisted RDDs and the
    storage memory they hold. While a pass runs, :meth:`sampling` also
    polls the storage memory, so tables cached only inside a call count
    towards the peak."""

    INTERVAL_S = 0.1

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc
        self.peak_bytes = 0

    def rdd_ids(self) -> set:
        return set(int(k) for k in self._jsc.getPersistentRDDs().keySet())

    def storage_bytes(self) -> int:
        used = sum(int(i.memSize()) for i in self._jsc.sc().getRDDStorageInfo())
        self.peak_bytes = max(self.peak_bytes, used)
        return used

    @contextlib.contextmanager
    def sampling(self):
        self.peak_bytes = 0
        stop = threading.Event()

        def poll():
            while not stop.wait(self.INTERVAL_S):
                self.storage_bytes()

        t = threading.Thread(target=poll, name="cache-probe", daemon=True)
        t.start()
        try:
            yield
        finally:
            stop.set()
            t.join()

    def release_all(self, spark) -> None:
        spark.catalog.clearCache()
        for rdd in list(self._jsc.getPersistentRDDs().values()):
            rdd.unpersist()


def session(k: int, app: str):
    from graft.session import get_spark

    spark = get_spark(
        app,
        master=f"local[{k}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": str(k),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.warehouse.dir": os.path.join(os.environ["TMPDIR"], "wh"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import graft  # noqa: F401
    except ImportError as e:
        print(f"perfbench: graft is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import spans as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        return run(args, work, tracing, workloads)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(timeout_s: float = 60) -> None:
    """End the Spark JVM this process launched and wait for it. It exits
    when its stdin closes; Python workers it forked exit with it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work, tracing, workloads) -> int:
    import pyspark

    k = min(4, os.cpu_count() or 1)
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "k": k,
        "pyspark": pyspark.__version__, "python": platform.python_version(),
        "load1_before": load1(),
    }
    wl = workloads.WORKLOADS[args.workload](args.seed)

    # --- set-up: session up + inputs staged, several times ---
    setup_times, get_spark_times = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        base = process_age_s() if i == 0 else 0.0
        spark = session(k, f"perfbench-{args.workload}")
        get_spark_times.append(base + time.perf_counter() - t)
        stage_dir = os.path.join(work, f"stage-{i}")
        os.makedirs(stage_dir)
        wl.stage(spark, stage_dir)
        setup_times.append(base + time.perf_counter() - t)
    prov["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    wl.prepare()
    probe = CacheProbe(spark)

    passes = []

    def one_pass(idx: int, traced: bool) -> dict:
        """Run, time and check one pass; a pass starts with no cached
        tables, and whatever an operation left cached is counted."""
        pdir = os.path.join(work, f"pass-{idx}")
        os.makedirs(pdir)
        probe.release_all(spark)
        tracer = tracing.Tracer(spark, f"pass{idx}") if traced else tracing.NullTracer()
        p = workloads.Pass(spark, tracer, probe)
        t = time.perf_counter()
        try:
            with probe.sampling(), tracing.instrument(tracer):
                wl.run_pass(p, pdir)
        except workloads.OpFailed:
            pass  # recorded on the op; the rest of the pass is not run
        wall = time.perf_counter() - t
        held = probe.rdd_ids()
        leaked = {}
        for op in p.ops:
            n = len(op["new_rdds"] & held)
            if n:
                leaked[op["name"]] = leaked.get(op["name"], 0) + n
        p.run_checks()
        first = passes[0]["leiden_quality"] if passes else None
        if None not in (first, p.leiden_quality) and p.leiden_quality != first:
            leiden_op = [op for op in p.ops if op["name"].endswith("leiden")][-1]
            leiden_op["ok"] = False
            leiden_op["error"] = (f"leiden quality {p.leiden_quality!r} differs from "
                                  f"the warm-up pass's {first!r}")
        shutil.rmtree(pdir, ignore_errors=True)
        missing = wl.OPS_PER_PASS - len(p.ops)
        for op in p.ops:
            if not op["ok"]:
                print(f"perfbench: pass {idx}: {op['name']}: {op['error']}",
                      file=sys.stderr)
        rec = {
            "traced": traced, "wall": wall,
            "attempted": wl.OPS_PER_PASS,
            "failed": missing + sum(not op["ok"] for op in p.ops),
            "leiden_quality": p.leiden_quality,
            "cache_peak_bytes": probe.peak_bytes,
            "leaked": leaked,
        }
        if traced:
            rec["counters"] = tracing.pass_counters(
                tracer.spans, wall=wall, k=k, extra=p.extra
            )
            rec["store_errors"] = tracer.store_errors
        passes.append(rec)
        return rec

    warm = one_pass(0, traced=False)
    t_begin = time.perf_counter()
    while True:
        timed = passes[1:]
        n_traced = sum(r["traced"] for r in timed)
        if args.trace:
            enough = n_traced >= 2 and len(timed) - n_traced >= 1
        else:
            enough = len(timed) >= 1
        if enough and time.perf_counter() - t_begin >= args.seconds:
            break
        one_pass(len(passes), traced=bool(args.trace) and len(timed) % 2 == 0)
    prov["load1_after"] = load1()
    spark.stop()

    attempted = sum(r["attempted"] for r in passes)
    failed = sum(r["failed"] for r in passes)
    untraced = [r["wall"] for r in passes[1:] if not r["traced"]]
    prov.update({
        "setup_s": setup_times, "get_spark_s": get_spark_times,
        "warmup_s": warm["wall"], "job_s_samples": len(untraced),
        "untraced_pass_s": untraced,
        "traced_pass_s": [r["wall"] for r in passes if r["traced"]],
        "leaked_caches_by_op": [r["leaked"] for r in passes],
        "store_errors": sum(r.get("store_errors", 0) for r in passes),
    })
    if args.trace:
        report, unstable = tracing.layer_report(
            [r for r in passes if r["traced"]], untraced, get_spark_times,
            [sum(r["leaked"].values()) for r in passes],
        )
        prov["counters_not_repeating"] = unstable
        metrics = {m: (v, tracing.unit(m)) for m, v in report.items()}
    else:
        metrics = {
            "setup_s": (statistics.median(setup_times), "s"),
            "warmup_s": (warm["wall"], "s"),
            "job_s": (statistics.median(untraced), "s"),
            "ops_ok_frac": ((attempted - failed) / attempted, "frac"),
            "leiden_cpm": (warm["leiden_quality"] or 0.0, "cpm"),
            "cache_peak_mb": (max(r["cache_peak_bytes"] for r in passes) / 2**20, "MiB"),
        }
    print(json.dumps({"provenance": prov}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": u} for m, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
