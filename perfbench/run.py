"""Extraction benchmark: one workload, one closed-loop client, one job at a time.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 8 --trace 0

Set-up (session start, input generation, one untimed warm-up job) runs
several times and its median is ``setup_s``; the first set-up launches the
JVM and the Spark context, the later ones get the running session back from
the same builder.  Then jobs run back to back for ``--seconds``, each after
``spark.catalog.clearCache()``, and every job's output is checked.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log and prints the per-layer metrics (see perfbench/README.md).  The
last line of standard output is the JSON result; the line before it records
the host.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

#: set-ups per run; `setup_s` is their median
SET_UPS = 2
#: counts the traced job reports, next to the layer metrics
COUNTS = [
    ("word_gate.frequent_words", "count"),
    ("candidates.seeds_total", "count"),
    ("candidates.accept_ratio", "ratio"),
    ("gather.rows", "count"),
    ("edges.frequent", "count"),
    ("transfer.rows", "count"),
    ("strip.removed_spans", "count"),
    ("dedup.lsh.pairs", "count"),
    ("dedup.fuzzy.pairs", "count"),
]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (tests use small scales)")
    return ap.parse_args(argv)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1e6, 1),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
    }


def start_session(tmp: str, event_log_dir: str | None):
    """local[nproc] with a driver heap sized below host RAM, shuffle
    partitions from nproc, and every scratch directory inside `tmp`."""
    from boilerplate_buster_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(8, int(ram_gb // 8)))
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.makedirs(os.path.join(tmp, "java-tmp"), exist_ok=True)
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def measure(args, wl, tmp: str) -> dict:
    from perfbench import procstat, trace

    traced = bool(args.trace)
    log_dir = os.path.join(tmp, "event-log") if traced else None
    if log_dir:
        os.makedirs(log_dir)
    setup_s, setup_parts, failures, job_failed = [], [], [], []
    spark = inputs = spans = None
    for k in range(SET_UPS):
        t0 = time.perf_counter()
        # the first set-up launches the JVM and the Spark context; later ones
        # get the running session back from the same builder call
        spark = start_session(tmp, log_dir)
        spans = trace.Spans(spark.sparkContext)
        t1 = time.perf_counter()
        data_dir = os.path.join(tmp, f"data{k}")
        os.makedirs(data_dir)
        inputs = wl.generate(spark, args.seed, args.scale, data_dir)
        t2 = time.perf_counter()
        warm = wl.run(spark, inputs, spans, traced)
        t3 = time.perf_counter()
        setup_s.append(t3 - t0)
        setup_parts.append([round(t1 - t0, 2), round(t2 - t1, 2), round(t3 - t2, 2)])
        errs = wl.check(inputs, warm)
        failures += errs
        job_failed.append(bool(errs))
        spark.catalog.clearCache()
    host = {"spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions")}

    results, walls, leaked = [], [], []
    procstat.reset_peak_rss()
    cpu0 = procstat.tree_cpu_s()
    start = time.perf_counter()
    while True:
        spark.catalog.clearCache()
        spans.pass_no += 1
        t0 = time.perf_counter()
        try:
            res = wl.run(spark, inputs, spans, traced)
        except Exception:
            res = None
            failures.append(traceback.format_exc(limit=3))
        walls.append(time.perf_counter() - t0)
        leaked.append(persisted_rdds(spark))
        results.append(res)
        if res is not None and res.after is not None:
            res.after()  # traced counts: outside the measured job
        if time.perf_counter() - start >= args.seconds:
            break
    cpu_s = procstat.tree_cpu_s() - cpu0
    peak_mb = procstat.tree_peak_rss_mb()
    n_passes = len(walls)

    for res in results:
        errs = wl.check(inputs, res) if res is not None else []
        failures += errs
        job_failed.append(res is None or bool(errs))
    ok_walls = [w for w, r in zip(walls, results) if r is not None]
    docs_per_s = statistics.median(inputs.n_rows / w for w in ok_walls) if ok_walls else 0.0
    attempted, failed_jobs = len(job_failed), sum(job_failed)

    if not traced:
        metrics = {
            "docs_per_s": (docs_per_s, "docs/s"),
            "cpu_s_per_kdoc": (cpu_s / (n_passes * inputs.n_rows / 1000.0), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "setup_s": (statistics.median(setup_s), "s"),
            "success_rate": (1.0 - failed_jobs / attempted, "ratio"),
        }
    else:
        stop_jvm()
        jobs, stages = trace.read_event_log(trace.find_event_log(log_dir))
        layer = trace.layer_metrics(jobs, stages, spans.records, list(range(1, n_passes + 1)))
        counts = next((r.counts for r in reversed(results) if r is not None), {})
        metrics = {name: (layer.get(name, 0.0), unit) for name, unit in trace.per_layer_names()}
        for name, unit in COUNTS:
            metrics[name] = (counts.get(name, 0), unit)
        span_s = layer.get("trace.span_s", 0.0)
        wall = statistics.median(walls)
        metrics.update({
            "cache.leaked_rdds": (statistics.median(leaked), "count"),
            "trace.docs_per_s": (docs_per_s, "docs/s"),
            "trace.unattributed_s": (wall - span_s, "s"),
            "trace.coverage": (span_s / wall, "ratio"),
            "trace.unattributed_jobs": (layer.get("trace.unattributed_jobs", 0), "count"),
            "load.wall_s": (layer.get("load.wall_s", 0.0), "s"),
        })
    host["setups_s"] = setup_s
    host["pass_walls_s"] = [round(w, 3) for w in walls]
    host["setup_parts_s"] = setup_parts  # [session, inputs, warm-up] per set-up
    return {
        "host": host,
        "failures": failures,
        "attempted": attempted,
        "failed": failed_jobs,
        "passes": n_passes,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "boilerplate_buster_spark", "__init__.py")):
        print("perfbench: run from the root of a repository checkout "
              "(boilerplate_buster_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    # scratch of the Python workers and of Spark's block manager (the
    # environment variable wins over spark.local.dir in local mode)
    for var, d in (("TMPDIR", "py-tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(tmp, d)
        os.makedirs(os.environ[var])
    # the launcher JVM of spark-submit would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    before = host_info()
    try:
        out = measure(args, wl, tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    host = dict(before, **out["host"], workload=wl.name, seed=args.seed,
                passes=out["passes"], loadavg_after=list(os.getloadavg()))
    for f in out["failures"][:10]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print("# host " + json.dumps(host, sort_keys=True))
    print(json.dumps({
        "correct": not out["failures"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
