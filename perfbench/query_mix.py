"""``query_light`` and ``query_heavy``: fixed sets of registry queries
over seeded tables, one client, one query at a time.

Each run writes the tables from the seed once, then builds its inputs
(the engine's multi-block scan copy, priming) ``SETUP_REPEATS`` times,
then times one cold pass and warm passes until ``--seconds`` has
elapsed (at least ``MIN_WARM_PASSES``).
Every pass runs the queries in the listed order, so each query has the
same neighbours in every run. A query is timed from the start of
DataFrame construction until its last row is on the driver. After the
timed passes, every execution's canonical rows are checked against
the query's DuckDB oracle on the same files; every selected query has
one.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

from graal_cdc_spark.benchset import bench_names
from graal_cdc_spark.cdc.envelope import clear_envelope_cache
from graal_cdc_spark.queries import all_specs
from graal_cdc_spark.sources.tables import reblock_sf_dir
from graal_cdc_spark.testing import canon_rows, duckdb_connect
from perfbench import datagen, trace
from perfbench.common import Result, mean, median, tail

SETUP_REPEATS = 3
MIN_WARM_PASSES = 2
SCALE = 0.01

# JVM-only registry queries: no Python node in the executed plan and no
# job while the DataFrame is built; the fastest r/c/st ones, where the
# fixed cost per query dominates.
LIGHT = (
    "r14_global_topk",
    "r29_regexp_functions",
    "r15b_except",
    "r43_explode_outer",
    "r15c_union_all_count",
    "r52_histogram_binning",
    "r49_sorted_set_agg",
    "c04_envelope_projection",
    "r30_listagg_ordered",
    "r40_bitwise_aggregates",
    "r42_date_interval_arithmetic",
    "r10_rollup",
    "r45_try_expressions",
    "r11_count_distinct",
    "r77_percent_of_total",
    "r26_lateral_posexplode",
    "r15_intersect",
    "r16_string_functions",
    "r06_left_semi_join",
    "st9_stateful_topk",
)

# One query per Python operator kind in the executed plan (ArrowEval,
# ArrowAggregate and BatchEval UDFs, MapInArrow, MapInPandas codecs,
# grouped and cogrouped pandas), plus LLM queries that run jobs while
# their DataFrame is built.
HEAVY = (
    "r22_udf_parity",
    "r32_pandas_udaf_wavg",
    "r47_python_udtf",
    "r67_cogrouped_pandas",
    "r72_map_in_arrow",
    "r93_capped_running_balance",
    "mm11_png_roundtrip_census",
    "mm13_jpeg_roundtrip_census",
    "l27_greedy_packing",
    "l53_bigram_surprisal",
)


def _prime(spark, sf_dir: str, specs, heavy: bool) -> None:
    """First-query spin-up on the fresh tables, and for the heavy mix
    the Python worker pool."""
    specs["r14_global_topk"].spark(spark, sf_dir).collect()
    if not heavy:
        return
    import pandas as pd

    def warm(it):
        import numpy  # noqa: F401 — pay the import in every worker

        for p in it:
            yield pd.DataFrame({"x": [len(p)]})

    slots = spark.sparkContext.defaultParallelism
    spark.range(slots).repartition(slots).mapInPandas(warm, "x long").collect()


def _setup(ctx, workload: str, rep: int, src: str, specs) -> str:
    """The engine's part of set-up: the scan copy of ``src`` in a fresh
    directory, then priming."""
    root = os.path.join(ctx.scratch, f"q{rep}")
    t1 = time.perf_counter()
    sf_dir = reblock_sf_dir(ctx.spark, src, dest_root=root)
    t2 = time.perf_counter()
    _prime(ctx.spark, sf_dir, specs, workload == "query_heavy")
    t3 = time.perf_counter()
    print(f"setup{rep}: scan copy {t2 - t1:.2f}s, priming {t3 - t2:.2f}s",
          file=sys.stderr)
    return sf_dir


class _Timer:
    """Runs and times one query execution; in the traced run it also
    collects the job-group counters and Catalyst phases of its build
    and execution."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.phases = trace.QueryPhases(ctx.spark) if ctx.tracer.enabled else None
        self.layer_rows: list[dict] = []

    def run(self, spec, sf_dir: str, req: str) -> tuple[float, tuple]:
        spark, tr = self.ctx.spark, self.ctx.tracer
        if self.phases is None:
            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            rows = df.collect()
            return time.perf_counter() - t0, (df.columns, rows)
        sc = spark.sparkContext
        sc.setJobGroup(f"{req}:build", spec.name)
        with tr.span("queries.query", req):
            t0 = time.perf_counter()
            with tr.span("queries.build", req):
                df = spec.spark(spark, sf_dir)
            t1 = time.perf_counter()
            self.phases.take()  # drop the actions run while building
            sc.setJobGroup(f"{req}:exec", spec.name)
            t2 = time.perf_counter()
            with tr.span("queries.exec", req):
                rows = df.collect()
            t3 = time.perf_counter()
        sc.setJobGroup("idle", "")
        build = trace.job_group_stats(spark, f"{req}:build")
        exe = trace.job_group_stats(spark, f"{req}:exec")
        row = {f"queries.{k}": exe.get(k, 0.0) for k in (
            "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
        row["queries.build_ms"] = (t1 - t0) * 1000
        row["queries.build_jobs"] = build.get("jobs", 0.0)
        row["queries.exec_ms"] = (t3 - t2) * 1000
        row["queries.sched_gap_ms"] = (
            row["queries.exec_ms"] - row["queries.executor_run_ms"] / self.ctx.slots)
        row["sources.scan_tasks"] = exe.get("scan_tasks", 0.0)
        row["sources.input_bytes"] = exe.get("input_bytes", 0.0)
        row["operators.python_stage_run_ms"] = exe.get("python_stage_run_ms", 0.0)
        for k in ("analysis", "optimization", "planning"):
            row[f"queries.{k}_ms"] = 0.0
        for k in trace.PYTHON_METRICS.values():
            row[f"operators.{k}"] = 0.0
        for p in self.phases.take():
            for k in ("analysis", "optimization", "planning"):
                row[f"queries.{k}_ms"] += p["phases"].get(k, 0)
            for k in trace.PYTHON_METRICS.values():
                row[f"operators.{k}"] += p[k]
        self.layer_rows.append(row)
        return (t1 - t0) + (t3 - t2), (df.columns, rows)


def run(ctx, workload: str) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    specs = all_specs()
    names = list(LIGHT if workload == "query_light" else HEAVY)
    missing = sorted(set(names) - set(bench_names(specs)))
    if missing:
        raise KeyError(f"unknown or unbenched queries: {missing}")
    no_oracle = sorted(n for n in names if specs[n].oracle is None)
    if no_oracle:
        raise KeyError(f"queries without a DuckDB oracle: {no_oracle}")
    # the seeded tables are the benchmark's own input, written once and
    # outside setup_s
    src = datagen.write_tables(os.path.join(ctx.scratch, "src"), ctx.seed, SCALE)
    setup_s = []
    sf_dir = None
    for rep in range(SETUP_REPEATS):
        # every repetition builds the scan copy from scratch in a fresh
        # directory; the timed passes read the last one
        if sf_dir is not None:
            clear_envelope_cache()
            shutil.rmtree(os.path.dirname(sf_dir), ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("sources.prime", f"setup{rep}"):
            sf_dir = _setup(ctx, workload, rep, src, specs)
        setup_s.append(time.perf_counter() - t0)

    timer = _Timer(ctx)
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {n: [] for n in names}
    results: dict[str, list] = {n: [] for n in names}
    attempted = failed = 0

    def one_pass(p: int, times) -> None:
        nonlocal attempted, failed
        for n in names:
            attempted += 1
            try:
                t, out = timer.run(specs[n], sf_dir, f"{n}#{p}")
            except Exception:  # one failing query must not end the run
                failed += 1
                print(f"{workload}: {n} failed", file=sys.stderr)
                traceback.print_exc()
                continue
            times(n, t)
            results[n].append(out)

    t0 = time.perf_counter()
    one_pass(0, cold.__setitem__)
    cold_pass_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    passes, last = 0, 0.0
    # start a pass only if it is expected to end within --seconds
    while passes < MIN_WARM_PASSES or time.perf_counter() - t0 + last <= ctx.seconds:
        passes += 1
        tp = time.perf_counter()
        one_pass(passes, lambda n, t: warm[n].append(t))
        last = time.perf_counter() - tp
    warm_wall = time.perf_counter() - t1
    samples = [t for v in warm.values() for t in v]
    print(f"cold pass {cold_pass_s:.2f}s, {passes} warm passes {warm_wall:.2f}s",
          file=sys.stderr)
    for n in names:
        print(f"  {n}: cold {cold.get(n, 0):.3f}s warm "
              + " ".join(f"{t:.3f}" for t in warm[n]), file=sys.stderr)

    # --- correctness, outside the timed passes -------------------------
    wrong = _verify(specs, results, sf_dir)
    failed += sum(wrong.values())

    q_tail, pct = tail(samples)
    named = {
        "setup_s": median(setup_s),
        "cold_pass_s": cold_pass_s,
        "query_p50_s": median(samples),
        "query_tail_s": q_tail,
        "query_tail_pct": pct,
        "qps_warm": len(samples) / warm_wall,
    }
    units = {k: "s" for k in named}
    units.update(qps_warm="1/s", query_tail_pct="percentile")
    res = Result(
        named=named, units=units,
        generic={"setup_s": "setup_s", "cold_s": "cold_pass_s",
                 "p50_s": "query_p50_s", "rate_per_s": "qps_warm"},
        attempted=attempted, failed=failed,
    )
    res.notes.append(
        f"{len(names)} queries at sf{SCALE}, {passes} warm passes, {len(samples)} warm "
        "samples")
    if any(wrong.values()):
        res.notes.append(f"wrong results: {sorted(n for n, w in wrong.items() if w)}")
    if tr.enabled:
        keys = {k for row in timer.layer_rows for k in row}
        res.layers = {k: mean(row[k] for row in timer.layer_rows) for k in keys}
        res.layers["sources.prime_ms"] = 1000 * mean(setup_s)
    return res


def _verify(specs, results: dict[str, list], sf_dir: str) -> dict[str, int]:
    """Wrong executions per query: those whose columns or canonical rows
    differ from the DuckDB oracle's on the same files."""
    wrong: dict[str, int] = {}
    con = duckdb_connect(sf_dir)
    try:
        for n, outs in results.items():
            if not outs:
                continue
            rel = con.sql(specs[n].oracle)
            want_cols = sorted(rel.columns)
            want = canon_rows(rel.columns, rel.fetchall())
            bad = sum(
                sorted(cols) != want_cols
                or canon_rows(cols, [tuple(r) for r in rows]) != want
                for cols, rows in outs
            )
            if bad:
                print(f"wrong result: {n} ({bad} of {len(outs)} executions)", file=sys.stderr)
            wrong[n] = bad
    finally:
        con.close()
    return wrong
