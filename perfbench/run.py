#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_apply,query_heavy,query_light}
        --seed N --seconds S --trace {0,1}
        [--slots 4] [--shuffle-partitions 8] [--driver-memory 4g]

Run from the repository root. One process, one closed-loop client,
one local Spark session with at most ``nproc`` task slots. Every
input is generated from ``--seed`` under ``.bench_runs/`` in the
current directory; the run removes its inputs again and keeps only its
result files there. Every named metric is printed as
``<workload> <name> = <value> <unit>``; the last line of stdout is one
JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` its metrics are the end-to-end metrics gated in
BENCHMARK.json; with ``--trace 1`` the per-layer metrics, and the
spans go to ``.bench_runs/trace-<workload>-<seed>.json`` with the
traced run's own end-to-end numbers and, when an untraced run of the
same workload and seed left its result there, the tracing overhead.
perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("cdc_apply", "query_heavy", "query_light")
# Workloads this command runs that BENCHMARK.json does not gate.
UNGATED = {
    "query_light": "not gated in BENCHMARK.json: the run-time budget leaves "
    "room for only two gated workloads (README.md)",
}


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def start_session(args, scratch: str):
    """The pinned local session: ``--slots`` task slots (at most
    ``nproc``), ``--shuffle-partitions``, ``--driver-memory``. Python
    workers import the engine from the repository root, and every
    temporary file lands under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.local.dir={tmp} pyspark-shell"
    )
    # spark-submit's launcher JVM too: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_memory
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    tempfile.tempdir = tmp
    from graal_cdc_spark.session import get_spark

    spark = get_spark(
        app_name="graal-cdc-perfbench",
        master=f"local[{args.slots}]",
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit: closing its stdin is PySpark's signal to quit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=4)
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    ap.add_argument("--driver-memory", default="4g")
    args = ap.parse_args(argv)
    args.slots = max(1, min(args.slots, os.cpu_count() or 1))

    # Without the engine next to perfbench/ this raises: exit 1, no result.
    sys.path.insert(0, ROOT)
    import graal_cdc_spark  # noqa: F401

    from perfbench import trace
    from perfbench.common import END_TO_END, LAYER_UNITS, Ctx

    if args.workload == "cdc_apply":
        from perfbench import cdc_apply as workload
    else:
        from perfbench import query_mix as workload

    runs = os.path.join(os.getcwd(), ".bench_runs")
    tag = f"{args.workload}-{args.seed}"
    scratch = os.path.join(runs, f"work-{tag}-{os.getpid()}")
    os.makedirs(scratch)
    try:
        t0 = time.perf_counter()
        spark = start_session(args, scratch)
        session_s = time.perf_counter() - t0
        try:
            tracer = trace.Tracer(enabled=bool(args.trace))
            ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                      slots=args.slots, scratch=scratch, tracer=tracer)
            res = workload.run(ctx, args.workload)
            res.named["setup_s"] += session_s
            res.named["peak_rss_mb"] = peak_rss_mb(spark)
            res.units["peak_rss_mb"] = "MB"
            res.layers["session.start_ms"] = session_s * 1000
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = max(1, res.attempted)
    failed = min(res.failed, attempted)
    named = dict(res.named)
    named["error_rate"] = failed / attempted
    res.units["error_rate"] = "ratio"
    session = {"slots": args.slots, "shuffle_partitions": args.shuffle_partitions,
               "driver_memory": args.driver_memory}
    e2e = {k: res.named[res.generic[k]] for k in END_TO_END}
    for name, value in sorted(named.items()):
        print(f"{args.workload} {name} = {value:.6g} {res.units[name]}")
    print(f"{args.workload} session: " + " ".join(f"{k}={v}" for k, v in session.items()))
    for note in res.notes + [UNGATED.get(args.workload, "")]:
        if note:
            print(f"{args.workload} note: {note}")
    with open(os.path.join(runs, f"e2e-{tag}-trace{args.trace}.json"), "w",
              encoding="utf-8") as f:
        json.dump({"session": session, "named": named, "end_to_end": e2e}, f, indent=1)
    if args.trace:
        doc = {"workload": args.workload, "seed": args.seed, "session": session,
               "named": named, "layers": res.layers}
        untraced = os.path.join(runs, f"e2e-{tag}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced, encoding="utf-8") as f:
                base = json.load(f)["named"]
            doc["overhead"] = {
                k: {"untraced": base[k], "traced": v,
                    "share": (v - base[k]) / base[k] if base[k] else None}
                for k, v in named.items() if k in base
            }
            for k, o in sorted(doc["overhead"].items()):
                print(f"{args.workload} overhead {k}: untraced {o['untraced']:.6g}"
                      f" traced {o['traced']:.6g} {res.units[k]}")
        tracer.dump(os.path.join(runs, f"trace-{tag}.json"), doc)
        metrics = {k: {"value": res.layers.get(k, 0.0), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
