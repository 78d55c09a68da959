#!/usr/bin/env python3
"""Seeded benchmark of rad_database_parse_spark.

    python3 perfbench/run.py --workload {rad_ingest,olap_mix,event_stream,llm_curation}
                             --seed N --seconds 5 --trace {0,1}

Run from the root of a checkout. The run generates the workload's inputs
from the seed, starts Spark on local[N] (N = min(nproc, 4)) and runs the
workload's warm-up (together: set-up), then drives the workload as a closed
loop with one client until S seconds of op time have passed; BENCHMARK.json
fixes S. Each op's input files are written before its timer starts, and its
output is checked after the timer stops. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
when --trace 0 and the per-layer metrics when --trace 1. The line before it
is the full report (workload-specific figures, run metadata). Both, and the
spans of a traced run, are also written under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rad_database_parse_spark"
MAX_CORES = 4

# the workloads BENCHMARK.json lists; the others run only by hand
BENCHMARKED = ("rad_ingest", "olap_mix")
RUN_SECONDS = 5
SESSION_LAYERS = {
    "session.start_s": "s",
    "session.jvm_gc_s": "s",
    "session.heap_peak_mb": "MB",
}


def per_layer_names(workload: str) -> dict[str, str]:
    """The per-layer metrics a traced run prints, with units: those of
    every workload in BENCHMARK.json (a layer the workload never enters
    reads 0), or the workload's own for one run by hand."""
    from workloads import WORKLOADS

    names = dict(SESSION_LAYERS)
    for w in (BENCHMARKED if workload in BENCHMARKED else (workload,)):
        names.update(WORKLOADS[w].LAYERS)
    return names


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=BENCHMARKED + ("event_stream", "llm_curation"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=RUN_SECONDS,
                   help="op time to measure; BENCHMARK.json fixes it for every run")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples above it, by nearest rank. None below twenty samples, where no
    percentile above the median has ten samples beyond it."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 20:
        return None
    pct = 100.0 * (n - 10) / n
    return pct, xs[int(-(-pct * n // 100)) - 1]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Sum of the peak resident sets of this process, the Spark JVM and
    the JVM's Python workers."""
    pids = [os.getpid()] + (_descendants(jvm_pid) if jvm_pid else [])
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def jvm_stats(spark) -> tuple[float, float]:
    """(GC seconds since JVM start, peak heap MB since the last reset)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if str(p.getType().name()) == "HEAP")
    return gc_ms / 1000.0, heap / 2**20


def reset_heap_peaks(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for p in mf.getMemoryPoolMXBeans():
        p.resetPeakUsage()


def source_digest() -> str:
    """Content hash of the package source: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dirpath, f), ROOT).encode())
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def start_session(work: str, cores: int):
    from rad_database_parse_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(args, work: str, cores: int) -> dict:
    from pyspark import SparkContext

    import workloads
    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.seed, work, tracer)
    wl.generate()

    # set-up: JVM launch, session start and the workload's warm-up op
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    tracer.bind(spark)
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)

    gc0, _ = jvm_stats(spark)
    reset_heap_peaks(spark)
    ops, latencies = [], []
    attempted = failed = 0
    busy = 0.0
    i = 0
    while busy < args.seconds:
        wl.prepare(i)  # the op's input files, written before the timer starts
        tracer.op_id = i
        attempted += 1
        ok = True
        t0 = time.perf_counter()
        try:
            result = wl.op(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        lat = time.perf_counter() - t0
        tracer.op_id = None
        busy += lat
        ops.append(i)
        latencies.append(lat)
        if ok:
            try:
                ok = bool(wl.check(i, result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            failed += 1
            print(f"perfbench: op {i} failed its check", file=sys.stderr)
        tracer.collect_stage_metrics(i, task_skew_for=("llm.dedup.lsh",))
        i += 1
    gc1, heap_peak = jvm_stats(spark)

    final_failures = 0
    try:
        final_failures = wl.finish()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        final_failures = 1
    attempted += 1
    failed += int(final_failures > 0)

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(latencies), "s"),
        "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
    }
    report = wl.report(ops, latencies)
    report["ops_per_s"] = (len(latencies) / busy, "ops/s")
    report["failed_ratio"] = (failed / attempted, "ratio")
    report["ops"] = (float(len(latencies)), "count")
    if (t := tail(latencies)) is not None:
        report["op_tail_pct"] = (t[0], "percentile")
        report["op_tail_s"] = (t[1], "s")

    layers = {}
    if tracer.enabled:
        layers = {k: (0.0, u) for k, u in per_layer_names(args.workload).items()}
        layers.update(wl.layers(ops))
        layers["session.start_s"] = (session_s, "s")
        layers["session.jvm_gc_s"] = (gc1 - gc0, "s")
        layers["session.heap_peak_mb"] = (heap_peak, "MB")

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "latencies_s": latencies,
    }
    wl.teardown()
    spark.stop()
    stop_jvm()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "report": report,
        "per_layer": layers,
        "meta": meta,
        "spans": tracer.spans,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    cores = max(1, min(nproc, MAX_CORES))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything the run and its worker processes write stays in `work`
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        # a fixed JVM heap keeps peak RSS comparable between runs
        "SPARK_GRAFT_DRIVER_MEM": "3g",
    })
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        res = measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    if res["spans"]:
        with open(os.path.join(out_dir, f"{run_id}-spans.json"), "w") as f:
            json.dump({"meta": res["meta"], "spans": res["spans"]}, f)
    chosen = res["per_layer"] if args.trace else res["end_to_end"]
    full = {
        "meta": res["meta"],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res["end_to_end"].items()},
        "report": {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in res["per_layer"].items()},
    }
    if args.trace:
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["op_p50_s"]["value"]
            full["report"]["tracing_overhead_s"] = {
                "value": res["end_to_end"]["op_p50_s"][0] - base, "unit": "s"}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps({k: full[k] for k in ("meta", "report")}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
