"""Benchmark entry point. Run from the repository root:

    python3 syncbench/run.py --workload sync_tick --seed 1 --seconds 40 --trace 0

Prints one JSON line last on stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics with ``--trace 1``). The full run record, with every
sample in the order it was measured, goes to
``.bench_work/records/<workload>-s<seed>-t<trace>.json``; the per-layer
report of a traced run goes to stderr. See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

REPO = os.getcwd()
WORK_ROOT = os.path.join(REPO, ".bench_work")
CPUS = min(4, len(os.sched_getaffinity(0)))
# get_spark's 16g default is above a 15 GB machine's memory. A small
# heap also narrows how far peak RSS swings with the JVM's heap-expansion
# decisions: 1.7-2.4 GB at 3g over five sync_tick runs, 1.5-1.8 GB at
# 1536m over ten.
DRIVER_MEM = "1536m"



def _pin_environment(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``, and make the
    benchmark importable in Spark's Python workers. Returns the Spark
    settings pinned beyond ``get_spark``'s own."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # fewer glibc malloc arenas: one source of run-to-run swing in the
    # JVM's native footprint, and so in peak RSS
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # every JVM the launch starts: no /tmp/hsperfdata_<user> counter file
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def _jvm_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "worker_spark")):
        print("syncbench: run from the repository root (no worker_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from syncbench import report, workloads

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        end_to_end = {m["name"]: m for m in json.load(f)["end_to_end"]}

    if args.workload not in workloads.WORKLOADS:
        print(f"syncbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    pins = _pin_environment(work)
    from worker_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("syncbench", cpus=CPUS, extra_conf=pins)
    session_start_s = time.time() - t0
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx = workloads.Context(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            cpus=CPUS,
            process_start=PROCESS_START,
            bounds={k: m["bound"] for k, m in end_to_end.items()},
        )
        result = workloads.WORKLOADS[args.workload](ctx)
        rss = {"python_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, "jvm_mb": _jvm_rss_mb(jvm_pid)}
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(result.e2e, peak_rss_mb=rss["python_mb"] + rss["jvm_mb"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pinned": {
            "cpus": CPUS,
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "MALLOC_ARENA_MAX": os.environ["MALLOC_ARENA_MAX"],
            "JAVA_TOOL_OPTIONS": os.environ["JAVA_TOOL_OPTIONS"],
            **pins,
        },
        "sizes": result.sizes,
        "session_start_s": session_start_s,
        "phases": result.phases,
        "end_to_end": e2e,
        "peak_rss": rss,
        "samples": result.samples,
        "tails": result.tails,
        "drift": result.drift,
        "checks": result.checks,
        "attempted": result.attempted,
        "failed": result.failed,
        "layers": result.layers,
    }
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    rec_path = os.path.join(WORK_ROOT, "records", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    if args.trace:
        metrics = report.per_layer_metrics(result.layers, session_start_s)
        print(report.render(args.workload, result.layers, metrics), file=sys.stderr)
    else:
        metrics = {k: {"value": e2e[k], "unit": m["unit"]} for k, m in end_to_end.items()}
    correct = result.failed == 0 and all(result.checks.values())
    print(json.dumps({"correct": correct, "attempted": result.attempted, "failed": result.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
