"""``cdc_apply``: the reference's data plane end to end.

A seeded producer seals one Debezium envelope segment per step into a
``graal_cdc_log`` directory. One continuous ``PipelineRunner`` query
routes the envelopes, keeps the latest event per key (the consumer
script in ``pipeline_scripts/``) and, in ``foreachBatch``, merges the
batch into a versioned-lake table and writes it to a loopback
Elasticsearch endpoint. The producer seals the next segment only after
the previous batch has committed (a closed loop with one client).
After each commit a reader runs key-range reads of that version and
reads its change feed; every ``MAINTAIN_EVERY`` commits, OPTIMIZE and
vacuum run inline.
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
import traceback

from pyspark.sql import functions as F

from graal_cdc_spark.pipelines.registry import PipelineRegistry
from graal_cdc_spark.pipelines.runner import PipelineRunner
from graal_cdc_spark.sinks import EsSinkConfig, write_cdc_dataframe
from graal_cdc_spark.sinks import versioned_lake as VL
from graal_cdc_spark.sources.cdc_log_ds import append_segment
from perfbench import datagen
from perfbench.common import Result, mean, median, tail
from perfbench.es_endpoint import EsEndpoint

SCRIPTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pipeline_scripts")
SHAPE = datagen.StreamShape()
SETUP_REPEATS = 3
# Choices, not measurements (README.md gives the reasons): several
# range reads per commit, each over 1/16 of the key domain; OPTIMIZE
# and vacuum after every second commit, so the minimum of four timed
# commits holds two maintenance cycles.
READS_PER_COMMIT = 4
READ_WIDTH = SHAPE.keys // 16  # keys per range read
MAINTAIN_EVERY = 2
MIN_STEPS = 4
WARMUP_BATCHES = 1
KEEP_VERSIONS = 3
BATCH_TIMEOUT_S = 120.0
SCHEMA = "id BIGINT, amount BIGINT, tier STRING, seq BIGINT"


def _initial_rows() -> list[tuple]:
    """The table's starting snapshot: every routed key once, ``seq`` =
    key (below every streamed ``seq``)."""
    return [(k, 0, "t0", k) for k in range(0, SHAPE.keys, 2)]


class _Apply:
    """One pipeline instance: fresh log, checkpoint, table and index."""

    def __init__(self, ctx, root: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.log = os.path.join(root, "log")
        self.staging = os.path.join(root, "staging")
        self.table = os.path.join(root, "lake", "accounts")
        self.es = EsEndpoint(max_connections=ctx.slots).start()
        self.cfg = EsSinkConfig(url=self.es.url, username="bench",
                                password="bench", id_key="id")
        self.done = threading.Condition()
        self.batches: list[dict] = []
        self.error: BaseException | None = None
        self.routed_counts: list[int] = []
        os.makedirs(self.log)
        os.makedirs(self.staging)
        snapshot = self.spark.createDataFrame(_initial_rows(), SCHEMA)
        VL.commit_append(self.spark, snapshot, self.table)
        write_cdc_dataframe(snapshot.withColumn("op", F.lit("r")), self.cfg)
        pipe = self._pipeline()
        self.runner = PipelineRunner(
            spark=self.spark, replay_dir=self.log,
            checkpoint_root=os.path.join(root, "checkpoints"),
            source_format="graal_cdc_log",
        )
        self.run = self.runner.start(pipe, self._sink, available_now=False)

    def _pipeline(self):
        registry = PipelineRegistry()
        registry.refresh(SCRIPTS)
        pipe = registry.pipelines()["accounts"]
        if self.ctx.tracer.enabled:
            user = pipe.transform

            def counted(df):
                # traced run only: one extra job per batch
                self.routed_counts.append(df.count())
                return user(df)

            pipe.transform = counted
        return pipe

    def _sink(self, df, batch_id: int) -> None:
        t_start = time.perf_counter()
        tr, req = self.ctx.tracer, f"batch{batch_id}"
        rec = {"batch": batch_id, "start": t_start}
        try:
            with tr.span("pipelines.batch", req):
                t = time.perf_counter()
                with tr.span("sinks.lake_merge", req):
                    rec["version"] = VL.commit_merge(
                        self.spark, df, self.table, ["id"], delete_when="op = 'd'")
                rec["merge_ms"] = (time.perf_counter() - t) * 1000
                es0 = self.es.stats()
                t = time.perf_counter()
                with tr.span("sinks.es_write", req):
                    write_cdc_dataframe(df, self.cfg)
                rec["es_ms"] = (time.perf_counter() - t) * 1000
                es1 = self.es.stats()
                rec["es"] = {k: es1[k] - es0[k] for k in es1}
        except BaseException as exc:  # reported to the producer, then re-raised
            self.error = exc
            raise
        finally:
            rec["end"] = time.perf_counter()
            with self.done:
                self.batches.append(rec)
                self.done.notify_all()

    def seal(self, rows) -> tuple[float, float]:
        """Write one segment and publish it whole. Returns (seal time,
        append ms). The segment is written in a staging log and
        hard-linked into the live log, so the reader never counts a
        half-written trailing line."""
        t = time.perf_counter()
        path = append_segment(self.staging, rows, seal=True)
        os.link(path, os.path.join(self.log, os.path.basename(path)))
        now = time.perf_counter()
        return now, (now - t) * 1000

    def wait_batch(self, n_before: int) -> dict:
        deadline = time.monotonic() + BATCH_TIMEOUT_S
        with self.done:
            while len(self.batches) <= n_before and self.error is None:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("micro-batch did not commit in time")
                self.done.wait(left)
        if self.error is not None:
            raise RuntimeError("micro-batch failed") from self.error
        return self.batches[n_before]

    def close(self) -> None:
        self.runner.stop_all()
        self.es.close()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run(ctx, workload: str) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    stream = datagen.change_stream(ctx.seed, 10**9, SHAPE)
    segments: list[list[tuple]] = []
    setup_s: list[float] = []
    app = None
    for rep in range(SETUP_REPEATS):
        # every repetition builds a fresh pipeline; the last one stays
        # up for the timed loop
        if app is not None:
            app.close()
        t0 = time.perf_counter()
        with tr.span("pipelines.setup", f"setup{rep}"):
            app = _Apply(ctx, os.path.join(ctx.scratch, f"cdc{rep}"))
        setup_s.append(time.perf_counter() - t0)
    # the first micro-batch of the fresh query and table is cold_apply_s;
    # untimed batches follow until the apply path's code is warm
    for i in range(1 + WARMUP_BATCHES):
        segments.append(next(stream))
        sealed, _ = app.seal(segments[-1])
        applied = app.wait_batch(i)["end"] - sealed
        if i == 0:
            cold_apply_s = applied
    print("setup " + " ".join(f"{s:.2f}s" for s in setup_s)
          + f", first batch {cold_apply_s:.2f}s", file=sys.stderr)

    rng = random.Random(ctx.seed)
    fresh_ms, read_ms, feed_ms, wait_ms, append_ms = [], [], [], [], []
    reads: list[tuple[int, int, int, int, list]] = []  # segment, version, lo, hi, rows
    feeds: list[tuple[int, int, list]] = []
    maint = {"optimize_ms": [], "optimize_bytes": [], "vacuum_ms": []}
    lake_layers = {"added": [], "removed": [], "amp": [], "live": [], "log": [], "pruned": []}
    attempted = failed = 0
    input_lines = 0
    gen_s = 0.0  # the generator's own time, left out of the drain wall
    t_begin = time.perf_counter()
    step = 0
    # Whole maintenance cycles only, so every run has the same share of
    # OPTIMIZE and vacuum; a cycle starts only if it is expected to end
    # within --seconds.
    while step < MIN_STEPS or step % MAINTAIN_EVERY or (
        time.perf_counter() - t_begin
    ) * (step + MAINTAIN_EVERY) / step <= ctx.seconds:
        t_step = time.perf_counter()
        step += 1
        rows = next(stream)
        gen_s += time.perf_counter() - t_step
        segments.append(rows)
        idx = len(segments) - 1
        req = f"step{step}"
        attempted += 1
        try:
            n_before = len(app.batches)
            with tr.span("sources.append", req):
                sealed, a_ms = app.seal(rows)
            append_ms.append(a_ms)
            input_lines += len(rows)
            batch = app.wait_batch(n_before)
        except (TimeoutError, RuntimeError):  # the stream is stuck or dead
            failed += 1
            traceback.print_exc()
            break
        fresh_ms.append((batch["end"] - sealed) * 1000)
        wait_ms.append((batch["start"] - sealed) * 1000)
        v = batch["version"]
        if tr.enabled:
            added, removed = VL.commit_actions(app.table, v)
            body = VL.commit_body(app.table, v)
            written = sum(
                os.path.getsize(os.path.join(app.table, p))
                for p in added + [c["path"] for c in body.get("cdf", [])]
            )
            seg = os.path.join(app.log, sorted(os.listdir(app.log))[-1])
            lake_layers["added"].append(len(added))
            lake_layers["removed"].append(len(removed))
            lake_layers["amp"].append(written / os.path.getsize(seg))
            lake_layers["live"].append(len(VL.live_files(app.table, v)))
            lake_layers["log"].append(_dir_bytes(os.path.join(app.table, VL.LOG_DIR)))
        for _ in range(READS_PER_COMMIT):
            lo = rng.randrange(SHAPE.keys)
            hi = lo + READ_WIDTH - 1
            attempted += 1
            t = time.perf_counter()
            with tr.span("sinks.lake_read", req):
                got = (
                    VL.read_table(spark, app.table, version=v, prune={"id": (lo, hi)})
                    .filter(F.col("id").between(lo, hi))
                    .collect()
                )
            read_ms.append((time.perf_counter() - t) * 1000)
            reads.append((idx, v, lo, hi, [tuple(r) for r in got]))
            if tr.enabled:
                live = len(VL.live_files(app.table, v))
                kept = len(VL.pruned_files(app.table, {"id": (lo, hi)}, v))
                lake_layers["pruned"].append(live - kept)
        attempted += 1
        t = time.perf_counter()
        with tr.span("sinks.lake_feed", req):
            got = VL.read_changes(spark, app.table, v, v).collect()
        feed_ms.append((time.perf_counter() - t) * 1000)
        feeds.append((idx, v, [r.asDict() for r in got]))
        if step % MAINTAIN_EVERY == 0:
            attempted += 2
            t = time.perf_counter()
            with tr.span("sinks.lake_optimize", req):
                ov = VL.commit_optimize(spark, app.table, n_files=ctx.slots, sort_cols=["id"])
            maint["optimize_ms"].append((time.perf_counter() - t) * 1000)
            if tr.enabled:
                maint["optimize_bytes"].append(sum(
                    os.path.getsize(os.path.join(app.table, p))
                    for p in VL.commit_actions(app.table, ov)[0]))
            t = time.perf_counter()
            with tr.span("sinks.lake_vacuum", req):
                VL.vacuum(app.table, keep_versions=KEEP_VERSIONS, spark=spark)
            maint["vacuum_ms"].append((time.perf_counter() - t) * 1000)
        print(f"step {step}: {time.perf_counter() - t_step:.2f}s, "
              f"freshness {fresh_ms[-1] / 1000:.2f}s", file=sys.stderr)
    drain_s = time.perf_counter() - t_begin - gen_s
    untimed = 1 + WARMUP_BATCHES
    progress = [p for p in app.run.query.recentProgress if p["numInputRows"] > 0][untimed:]

    # --- correctness, outside the timed loop ---------------------------
    wrong = _verify(spark, app, segments, reads, feeds)
    final_ok = wrong.pop("final")
    es_ok = wrong.pop("es")
    failed += sum(wrong.values())
    if not final_ok:
        failed += step
    if not es_ok:
        failed += step
    batches = app.batches[untimed:]
    app.close()

    f_tail, f_pct = tail(fresh_ms)
    r_tail, r_pct = tail(read_ms)
    named = {
        "setup_s": median(setup_s),
        "cold_apply_s": cold_apply_s,
        "apply_events_per_s": input_lines / drain_s,
        "freshness_p50_s": median(fresh_ms) / 1000,
        "freshness_tail_s": f_tail / 1000,
        "freshness_tail_pct": f_pct,
        "lake_read_p50_s": median(read_ms) / 1000,
        "lake_read_tail_s": r_tail / 1000,
        "lake_read_tail_pct": r_pct,
        "feed_read_p50_s": median(feed_ms) / 1000,
    }
    units = {k: "s" for k in named}
    units.update(apply_events_per_s="1/s", freshness_tail_pct="percentile",
                 lake_read_tail_pct="percentile")
    res = Result(
        named=named, units=units,
        generic={"setup_s": "setup_s", "cold_s": "cold_apply_s",
                 "p50_s": "freshness_p50_s", "rate_per_s": "apply_events_per_s"},
        attempted=attempted, failed=failed,
    )
    res.notes.append(
        f"{len(fresh_ms)} commits, {input_lines} input lines, {len(read_ms)} range reads, "
        f"{len(feed_ms)} feed reads, {len(maint['optimize_ms'])} OPTIMIZE+vacuum")
    if tr.enabled:
        lines = [len(s) for s in segments[untimed:]]
        res.layers.update(_layers(app, batches, progress, lines, append_ms, wait_ms,
                                  read_ms, feed_ms, maint, lake_layers))
        res.layers["pipelines.setup_ms"] = 1000 * mean(setup_s)
    return res


def _layers(app, batches, progress, lines, append_ms, wait_ms, read_ms, feed_ms,
            maint, lake) -> dict[str, float]:
    dur = [p["durationMs"] for p in progress]
    rows_read = [p["numInputRows"] for p in progress]
    routed = app.routed_counts[len(app.routed_counts) - len(batches):]
    return {
        "sources.append_ms": mean(append_ms),
        "sources.latest_offset_ms": mean(d.get("latestOffset", 0) for d in dur),
        "sources.rows_read": mean(rows_read),
        "cdc.rows_in": mean(lines),
        "cdc.rows_routed": mean(routed),
        "cdc.keep_ratio": sum(routed) / max(1, sum(lines)),
        "pipelines.trigger_ms": mean(d.get("triggerExecution", 0) for d in dur),
        "pipelines.planning_ms": mean(d.get("queryPlanning", 0) for d in dur),
        "pipelines.checkpoint_ms": mean(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        "pipelines.wait_ms": mean(wait_ms),
        "sinks.lake_merge_ms": mean(b["merge_ms"] for b in batches),
        "sinks.lake_files_added": mean(lake["added"]),
        "sinks.lake_files_removed": mean(lake["removed"]),
        "sinks.lake_write_amp": mean(lake["amp"]),
        "sinks.lake_live_files": mean(lake["live"]),
        "sinks.lake_log_bytes": mean(lake["log"]),
        "sinks.lake_files_pruned": mean(lake["pruned"]),
        "sinks.lake_read_ms": mean(read_ms),
        "sinks.lake_feed_ms": mean(feed_ms),
        "sinks.lake_optimize_ms": mean(maint["optimize_ms"]),
        "sinks.lake_optimize_bytes_rewritten": mean(maint["optimize_bytes"]),
        "sinks.lake_vacuum_ms": mean(maint["vacuum_ms"]),
        "sinks.es_write_ms": mean(b["es_ms"] for b in batches),
        "sinks.es_requests": mean(b["es"]["requests"] for b in batches),
        "sinks.es_bytes": mean(b["es"]["bytes"] for b in batches),
        "sinks.es_items": mean(b["es"]["items"] for b in batches),
        "sinks.es_retries": mean(b["es"]["rejected"] for b in batches),
    }


def _verify(spark, app, segments, reads, feeds) -> dict:
    """Check every recorded read and feed against the generator's fold
    at that step, and the final lake snapshot and index against the
    final fold. Returns counts of wrong reads/feeds and two flags."""
    state = {k: (a, t, s) for k, a, t, s in _initial_rows()}
    before_step: dict[int, dict] = {}
    after_step: dict[int, dict] = {}
    want_steps = {s for s, *_ in reads} | {s for s, *_ in feeds}
    for i, rows in enumerate(segments):
        if i in want_steps:
            before_step[i] = dict(state)
        state = datagen.expected_state([rows], state)
        if i in want_steps:
            after_step[i] = dict(state)
    wrong_reads = 0
    for step, _v, lo, hi, got in reads:
        st = after_step[step]
        want = sorted((k, *st[k]) for k in st if lo <= k <= hi)
        wrong_reads += sorted(got) != want
    wrong_feeds = 0
    for step, _v, got in feeds:
        b, a = before_step[step], after_step[step]
        want = sorted(
            [("insert", k, *a[k]) for k in a if b.get(k) != a[k]]
            + [("delete", k, *b[k]) for k in b if a.get(k) != b[k]]
        )
        have = sorted(
            (r["_change_type"], r["id"], r["amount"], r["tier"], r["seq"]) for r in got
        )
        wrong_feeds += have != want
    final = {r["id"]: (r["amount"], r["tier"], r["seq"])
             for r in VL.read_table(spark, app.table).collect()}
    docs = {int(k): (d["amount"], d["tier"], d["seq"]) for k, d in app.es.documents().items()}
    return {"reads": wrong_reads, "feeds": wrong_feeds,
            "final": final == state, "es": docs == state}
