"""Traced run: per-layer numbers from the benchmark's own calls.

Nothing inside redeye_spark is instrumented. The benchmark replays the
composition `plans.pipeline.run_pipeline` performs, one public call per
layer, each prefix of it under its own Spark job group with the event
log on:

  operators.tokenize_op  read_text_lines -> noop sink          (text input)
  operators.parse_op     + parse_sequence_files | parse_sequences -> noop
  operators.enrich       + enrich.enrich_expr + route.tag_routes -> noop
  sources.io             + ParquetIO.write of the events table by sink
  operators.aggregate    aggregate.salted_counts over the committed table

then times one whole run_pipeline call (`plans.pipeline`) and, on
tokenized input, an interrupted and resumed `run_checkpointed`
(`plans.checkpoint`). A layer's self time is its prefix span minus the
previous one. Task, GC, shuffle and input-record figures come from the
event log's task-end records keyed by job group. The tracing overhead is
the traced run_pipeline wall time minus the untraced median of the same
call, timed first in a session without the event log.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from redeye_spark.sources.io import ParquetIO

import corpus
import run

CHUNKS = 8  # checkpoint chunks
REFERENCE_CALLS = 2  # untraced calls per leg; a traced run must end within 180 s
FAIL_AFTER = 4  # chunks completed before the injected interruption
KERNEL_SECONDS = 0.5
KERNEL_BATCH = 10_000  # the session's arrow.maxRecordsPerBatch


class RecordingIO(ParquetIO):
    """ParquetIO that remembers each table's write arguments, so the
    replay writes the events table exactly as run_pipeline does."""

    def __init__(self, base_dir: str):
        super().__init__(base_dir)
        self.writes: dict[str, dict] = {}

    def write(self, df, table, mode="overwrite", partition_by=None, options=None):
        self.writes[table] = {"partition_by": partition_by, "options": options}
        super().write(df, table, mode=mode, partition_by=partition_by, options=options)


class Spans:
    """Wall time per Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    @contextmanager
    def __call__(self, group: str):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[group] = time.perf_counter() - t0
            self.sc.setJobGroup("perfbench", "between traced calls")


class PeakRss(threading.Thread):
    """Peak resident memory of this process and its descendants (the JVM
    and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.peak = max(self.peak, _tree_rss(os.getpid()))

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


def _tree_rss(root: int) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + run.descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class EventLog:
    """Task-end records of one finished application, keyed by job group."""

    def __init__(self, log_dir: str):
        logs = [f for f in os.listdir(log_dir) if not f.startswith(".")]
        if len(logs) != 1 or logs[0].endswith(".inprogress"):
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
        stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, list[dict]] = defaultdict(list)
        with open(os.path.join(log_dir, logs[0])) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    self.jobs[group] += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks[stage_group.get(e["Stage ID"])].append({
                        "stage": e["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_records": sw.get("Shuffle Records Written", 0),
                        "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    })

    def total(self, group: str, key: str) -> float:
        return sum(t[key] for t in self.tasks.get(group, ()))

    def stages(self, group: str) -> int:
        return len({t["stage"] for t in self.tasks.get(group, ())})

    def skew(self, group: str) -> float:
        """max / p50 task duration in the group's busiest stage."""
        by_stage = defaultdict(list)
        for t in self.tasks.get(group, ()):
            by_stage[t["stage"]].append(t["dur_s"])
        durs = max(by_stage.values(), key=sum, default=[0.0])
        p50 = statistics.median(durs)
        return max(durs) / p50 if p50 else 0.0

    def first_shuffle_records(self, group: str) -> int:
        writers = [t for t in self.tasks.get(group, ()) if t["shuffle_records"]]
        if not writers:
            return 0
        first = min(t["stage"] for t in writers)
        return sum(t["shuffle_records"] for t in writers if t["stage"] == first)


def kernel_rates(c: corpus.Corpus) -> dict[str, float]:
    """Single-core kernel throughput on the workload's own lines, in the
    batch size the Spark operators use; no Spark involved."""
    import pyarrow as pa

    from redeye_spark.functions.logparse import parse_lines_arrow
    from redeye_spark.functions.tokens import detokenize_list_array, tokens_list_array

    pa.set_cpu_count(1)
    lines = c.kernel_lines()
    batches = [lines[i:i + KERNEL_BATCH] for i in range(0, len(lines), KERNEL_BATCH)]
    arrays = [pa.array(b, pa.string()) for b in batches]
    tokens = [tokens_list_array(b) for b in batches]

    def rate(fn, inputs) -> float:
        rows, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < KERNEL_SECONDS:
            for x in inputs:
                fn(x)
                rows += len(x)
        return rows / (time.perf_counter() - t0)

    return {
        "logparse.kernel_rows_per_s": rate(lambda a: parse_lines_arrow(a, c.workload.fmt), arrays),
        "tokens.detok_rows_per_s": rate(detokenize_list_array, tokens),
        "tokens.tok_rows_per_s": rate(tokens_list_array, batches),
    }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _replay(spark, spans: Spans, c: corpus.Corpus, events_write: dict, base: str) -> list[str]:
    """Run the layer prefixes; returns the prefix groups in order."""
    from redeye_spark.operators import aggregate, enrich, parse_op, route

    cfg = run.pipeline_config(spark, c.workload)

    def parsed():
        raw = run.load_input(spark, c)
        files = parse_op.parquet_scan_files(raw) if cfg.num_partitions is None else None
        if files:
            return parse_op.parse_sequence_files(spark, files, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens)
        return parse_op.parse_sequences(
            raw, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens, num_partitions=cfg.num_partitions
        )

    def tagged():
        return route.tag_routes(enrich.enrich_expr(parsed()), cfg.routes)

    prefixes = []
    if c.workload.text:
        prefixes.append("operators.tokenize_op")
        with spans("operators.tokenize_op"):
            _noop(run.load_input(spark, c))
    prefixes += ["operators.parse_op", "operators.enrich", "sources.io"]
    with spans("operators.parse_op"):
        _noop(parsed())
    with spans("operators.enrich"):
        _noop(tagged())
    io = ParquetIO(base)
    with spans("sources.io"):
        t = tagged()
        io.write(t, "events", **events_write)
    with spans("operators.aggregate"):
        back = io.read(spark, "events", schema=t.schema)
        io.write(aggregate.salted_counts(back, cfg.bucket_granularity, cfg.salt_buckets), "agg_counts")
    return prefixes


def _checkpoint(spark, spans: Spans, c: corpus.Corpus, base: str) -> tuple[dict, int]:
    """Interrupted + resumed hash-mode run_checkpointed on the same
    input. Returns (numbers, rows the oracle disagrees with)."""
    from redeye_spark.plans import checkpoint as ck

    ckpt_dir = base + "-manifest"
    for d in (base, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    cfg = run.pipeline_config(spark, c.workload)
    io = ParquetIO(base)
    with spans("plans.checkpoint.fingerprint"):
        ck.input_fingerprints(run.load_input(spark, c), CHUNKS)
    with spans("plans.checkpoint.interrupted"):
        try:
            ck.run_checkpointed(spark, run.load_input(spark, c), io, ckpt_dir, cfg,
                                n_chunks=CHUNKS, fail_after=FAIL_AFTER)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("run_checkpointed ignored fail_after")
    done = {k: v for k, v in ck.load_manifest(ckpt_dir)["chunks"].items() if v.get("status") == "complete"}
    with spans("plans.checkpoint.resume"):
        manifest = ck.run_checkpointed(spark, run.load_input(spark, c), io, ckpt_dir, cfg, n_chunks=CHUNKS)
    chunks = manifest["chunks"]
    walls = [e["wall_sec"] for e in chunks.values()]
    attempt_s = spans.wall["plans.checkpoint.interrupted"] + spans.wall["plans.checkpoint.resume"]
    return {
        "checkpoint.fingerprint_s": (spans.wall["plans.checkpoint.fingerprint"], "s"),
        "checkpoint.chunk_s_p50": (statistics.median(walls), "s"),
        "checkpoint.chunk_s_max": (max(walls), "s"),
        "checkpoint.redo_rows": (sum(chunks[k]["rows_in"] for k, e in done.items() if chunks[k] != e), "rows"),
        "checkpoint.rows_per_s": (c.rows / attempt_s, "rows/s"),
        "resume_s": (spans.wall["plans.checkpoint.resume"], "s"),
    }, corpus.bad_rows(c, base)


def traced(c: corpus.Corpus, session) -> dict:
    w = c.workload
    kernels = kernel_rates(c)
    if not w.text:
        # the one-core leg of scaling_eff: a quarter-size input of the
        # same workload and seed, with its own oracle
        quarter = corpus.prepare(w, c.seed, os.path.dirname(c.root), rows=c.rows // 4)
    extra = {}
    rss = PeakRss()
    rss.start()
    out = os.path.join(run.WORK, "out")
    pipe = os.path.join(out, "trace-pipeline")

    # untraced reference: exactly the timed runs' set-up and calls
    start_s, warm_s, _ = run.set_up(session, c, os.path.join(out, "warm"))
    walls, _, failed = run.measure(session, c, pipe, 0, REFERENCE_CALLS)
    untraced_s = statistics.median(walls)
    attempted = c.rows * len(walls)

    log_dir = os.path.join(run.WORK, "events")
    shutil.rmtree(log_dir, ignore_errors=True)
    rec = RecordingIO(os.path.join(out, "warm"))
    run.set_up(session, c, None, io=rec, event_log=log_dir)
    spark = session.spark
    spans = Spans(spark)
    prefixes = _replay(spark, spans, c, rec.writes["events"], os.path.join(out, "trace-replay"))
    failed += corpus.bad_rows(c, os.path.join(out, "trace-replay"))
    with spans("plans.pipeline"):
        run.run_pipeline_once(spark, c, pipe)
    failed += corpus.bad_rows(c, pipe)
    attempted += 2 * c.rows
    if not w.text:
        numbers, bad = _checkpoint(spark, spans, c, os.path.join(out, "trace-checkpoint"))
        extra.update(numbers)
        failed += bad
        attempted += c.rows
    session.stop()
    log = EventLog(log_dir)

    if not w.text:
        # weak scaling: a quarter of the rows on one core should take as
        # long as all of them on four
        run.set_up(session, quarter, os.path.join(out, "warm"), master="local[1]")
        one, _, bad = run.measure(session, quarter, os.path.join(out, "trace-quarter"), 0, REFERENCE_CALLS)
        failed += bad
        attempted += quarter.rows * len(one)
        rate_1 = quarter.rows / statistics.median(one)
        extra["scaling_eff"] = ((c.rows / untraced_s) / (4 * rate_1), "ratio")
    peak_mb = rss.stop()

    def prev(group: str) -> str | None:
        i = prefixes.index(group)
        return prefixes[i - 1] if i else None

    def delta(group: str, f) -> float:
        p = prev(group)
        return f(group) - (f(p) if p else 0.0)

    span = spans.wall.__getitem__

    def task(g):
        return log.total(g, "run_s")

    def gc(g):
        return log.total(g, "gc_s")

    parse_task = delta("operators.parse_op", task)
    # the parse tasks detokenize, then parse
    combined_rate = 1 / (1 / kernels["logparse.kernel_rows_per_s"] + 1 / kernels["tokens.detok_rows_per_s"])
    size, files_out = corpus.data_bytes_files(os.path.join(pipe, "events"), os.path.join(pipe, "agg_counts"))
    groups = corpus.read_sinks(pipe)[1].shape[0]
    replay_s = span("sources.io") + span("operators.aggregate")
    metrics = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "session.peak_rss_mb": (peak_mb, "MB"),
        **{k: (v, "rows/s") for k, v in kernels.items()},
        "parse_op.self_s": (delta("operators.parse_op", span), "s"),
        "parse_op.task_s": (parse_task, "s"),
        "parse_op.task_skew": (log.skew("operators.parse_op"), "ratio"),
        "parse_op.kernel_share": (c.rows / combined_rate / parse_task, "ratio"),
        "enrich_route.self_s": (delta("operators.enrich", span), "s"),
        "io.write_self_s": (delta("sources.io", span), "s"),
        "io.bytes_out": (size, "B"),
        "io.files_out": (files_out, "count"),
        "aggregate.self_s": (span("operators.aggregate"), "s"),
        "aggregate.shuffle_bytes": (log.total("operators.aggregate", "shuffle_bytes"), "B"),
        "aggregate.groups": (groups, "count"),
        "aggregate.partial_per_group": (log.first_shuffle_records("operators.aggregate") / groups, "ratio"),
        "pipeline.jobs": (log.jobs["plans.pipeline"], "count"),
        "pipeline.stages": (log.stages("plans.pipeline"), "count"),
        "pipeline.trace_overhead_s": (span("plans.pipeline") - untraced_s, "s"),
    }
    extra.update({
        # JVM GC time is counted in whole milliseconds per task and often
        # sums to exactly 0 here, so it is printed rather than tracked
        "parse_op.gc_s": (delta("operators.parse_op", gc), "s"),
        "io.write_gc_s": (delta("sources.io", gc), "s"),
        # the fast path reads parquet inside the Python worker, where
        # Spark's input metrics do not see it: count the input files
        "parse_op.input_bytes": (corpus.data_bytes_files(c.input, suffix="")[0], "B"),
        "pipeline.traced_s": (span("plans.pipeline"), "s"),
        "pipeline.untraced_s": (untraced_s, "s"),
        "pipeline.replay_s": (replay_s, "s"),
        "pipeline.unaccounted_s": (untraced_s - replay_s, "s"),
    })
    if w.text:
        extra.update({
            "tokenize_op.self_s": (span("operators.tokenize_op"), "s"),
            "tokenize_op.task_s": (task("operators.tokenize_op"), "s"),
            "tokenize_op.task_skew": (log.skew("operators.tokenize_op"), "ratio"),
        })
    else:
        read = sum(log.total(g, "input_records") for g in ("plans.checkpoint.interrupted", "plans.checkpoint.resume"))
        extra["checkpoint.scan_rows_per_row"] = (read / c.rows, "ratio")
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "extra": extra}
