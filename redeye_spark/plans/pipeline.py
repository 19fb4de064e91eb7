"""End-to-end pipeline plan: line source -> parse (one Arrow UDF)
-> enrich -> route tag -> {partitioned sink write, per-sink aggregate
counts}.

This is the declarative analog of redeye's per-line loop
(src/bin/redeye.rs:82-89), built so Catalyst keeps everything except the
single mapInArrow parse inside whole-stage codegen:

  line source                           — one of (operators.parse_op):
    text files                            read, split and numbered by
                                          each parse task (.log input,
                                          streaming tail segments)
    parquet files                         read by each parse task
    any other plan's token column         round-robin repartition(n)
  mapInArrow(source+parse+classify)     — the only Python hop; reused
                                          workers skip re-reading
                                          unchanged zip archives
                                          (functions.worker)
  enrich expressions                    — codegen, no shuffle
  tag sink (case expression)            — codegen
  write partitionBy(sink)               — single pass over the data; the
                                          per-sink and per-partition
                                          counts ride it (df.observe)
  groupBy(sink,bucket,keys).count()     — one exchange over the committed
                                          sink, under the session's AQE

run_pipeline is the one commit function: a plain run is the case with
no chunk id, and each chunk of plans.checkpoint.run_checkpointed is the
same commit with its chunk id. It reports which line source the parse
took (``parse_path``) and why it read a text file whole or took the
general one (``fallback_reason``).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.logparse import FORMAT_COMMON
from ..operators import aggregate as agg_op
from ..operators import enrich as enrich_op
from ..operators import parse_op
from ..operators import route as route_op
from ..sources import textfiles
from ..sources.io import ParquetIO, TableIO


@dataclass
class PipelineConfig:
    fmt: str = FORMAT_COMMON
    # parse task count: byte-range tasks of local uncompressed text files
    # (default: the session's parallelism; a .gz/.bz2 file or a file read
    # whole is parsed by one task whatever this is), else an explicit
    # round-robin repartition of a token column before the UDF
    num_partitions: int | None = None
    carry_tokens: bool = False  # True only when the invariant is checked inline
    bucket_granularity: str = "hour"
    salt_buckets: ClassVar[int] = 16  # not an option: read only by perfbench's replay, deleted with it (ROADMAP item 2)
    routes: list = field(default_factory=lambda: list(route_op.DEFAULT_ROUTES))

    def route_names(self) -> list[str]:
        return [r.name for r in (self.routes or route_op.DEFAULT_ROUTES)]


def parse_input(
    spark: SparkSession, raw: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, str, str | None]:
    """raw sequences -> (parsed rows, parse path, why a text file was
    read whole or why the general path).

    The parse path is the line source parse_op.parse runs over:

      text_files     ``raw`` is the unmodified frame of a text reader
                     (tokenize_op.read_text_lines, a streaming tail
                     segment): the parse tasks read, number and parse
                     the files themselves, local uncompressed files in
                     cfg.num_partitions (default: the session's
                     parallelism) byte ranges (sources.textfiles);
      parquet_files  ``raw`` is a bare local parquet scan of the input
                     shape and no repartition was asked for: each task
                     reads its own files with pyarrow instead of paying
                     Spark's per-element JVM-row->Arrow conversion of the
                     token column (measured ~2x the parse kernel);
      general        anything else (streaming, filtered, in-memory):
                     ``raw``'s token column from that frame's own plan,
                     round-robin repartitioned to cfg.num_partitions
                     when set.

    Output rows are identical whichever path is taken."""
    source, path, reason = line_source(spark, raw, cfg)
    return parse_op.parse(source, fmt=cfg.fmt, carry_tokens=cfg.carry_tokens), path, reason


def line_source(
    spark: SparkSession, raw: DataFrame, cfg: PipelineConfig
) -> tuple[parse_op.LineSource, str, str | None]:
    """(the line source parse_input parses ``raw`` from, parse path,
    reason); see parse_input."""
    text = textfiles.tagged(raw)
    if text is not None:
        build, reason = text
        return build(cfg.num_partitions or spark.sparkContext.defaultParallelism), "text_files", reason
    if cfg.num_partitions is not None:
        reason = f"num_partitions={cfg.num_partitions} asks for a round-robin repartition"
    else:
        files, reason = parse_op.parquet_scan(raw)
        if files:
            return parse_op.parquet_files(spark, files), "parquet_files", None
    return parse_op.token_column(raw, cfg.num_partitions), "general", reason


def tag_parsed(parsed: DataFrame, cfg: PipelineConfig, source_dim: DataFrame | None = None) -> DataFrame:
    """parsed rows -> enriched + sink-tagged rows (lazy)."""
    # Static dims (status class, ua family) are deterministic functions
    # of the row — computed as codegen expressions (value-identical to
    # the broadcast joins, see enrich_expr) instead of paying two
    # AQE broadcast-stage latencies per action. A real tabular dim
    # (source_dim) still joins.
    enriched = enrich_op.enrich_expr(parsed)
    if source_dim is not None:
        enriched = enrich_op.enrich(enriched, None, None, source_dim)
    return route_op.tag_routes(enriched, cfg.routes)


def build_tagged(
    spark: SparkSession,
    raw: DataFrame,
    cfg: PipelineConfig,
    source_dim: DataFrame | None = None,
) -> DataFrame:
    """raw sequences -> parsed + enriched + sink-tagged DataFrame (lazy)."""
    return tag_parsed(parse_input(spark, raw, cfg)[0], cfg, source_dim)


_MAX_TASKS = 1 << 20  # parse tasks run_pipeline counts one by one


@dataclass
class PipelineResult:
    rows_in: int
    rows_ok: int
    rows_err: int
    sink_rows: dict[str, int]
    wall_sec: float
    parse_path: str = "general"  # text_files | parquet_files | general
    fallback_reason: str | None = None  # why a text file was read whole / the general path
    # [{part_id, rows, err}] per parse task that had rows; None when the
    # sink is not Parquet/ORC (no Observation metrics)
    partitions: list[dict] | None = None


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    io: TableIO,
    cfg: PipelineConfig | None = None,
    source_dim: DataFrame | None = None,
    events_table: str = "events",
    agg_table: str = "agg_counts",
    chunk_id: int | None = None,
) -> PipelineResult:
    """Commit ``raw``: ONE pass parses and writes all sinks (the per-sink
    and per-partition counters ride that same job as Observation
    metrics), then a cheap column-pruned pass over the committed events
    table computes the aggregate table.

    With a ``chunk_id`` this is one checkpoint chunk's commit: ``raw`` is
    the chunk's filtered input, rows carry a ``chunk_id`` column, and
    both tables overwrite only that chunk's partitions (events by
    chunk_id and sink, counts by chunk_id), so rerunning a half-committed
    chunk replaces rather than duplicates. Without one, events are
    partitioned by sink and both tables are overwritten.

    Sinks other than Parquet/ORC directories (IcebergIO) take per-sink
    counts from a groupBy over the committed aggregate table, and report
    ``partitions`` as None."""
    cfg = cfg or PipelineConfig()
    t0 = time.monotonic()

    if chunk_id is None:
        chunk_cols, in_chunk, events_by, agg_by, mode = [], F.lit(True), ["sink"], None, "overwrite"
    else:
        chunk_cols, in_chunk = [F.lit(chunk_id).alias("chunk_id")], F.col("chunk_id") == chunk_id
        events_by, agg_by, mode = ["chunk_id", "sink"], ["chunk_id"], "overwrite_partitions"
    # No persist: the committed events table IS the reuse point. The parse
    # UDF runs exactly once (the sink write); the aggregate pass re-reads
    # 5 columns of the columnar sink (6 chunked, see below), which at any
    # scale beats caching the full wide stream on-heap.
    parsed, parse_path, fallback_reason = parse_input(spark, raw, cfg)
    tagged = tag_parsed(parsed, cfg, source_dim).select("*", *chunk_cols)
    # Per-sink and per-partition counters ride the sink-write job itself
    # via df.observe — zero extra jobs. Observation aggregates can't
    # groupBy, but the route list is a static config, so one conditional
    # sum per route (+ one for NULL sinks: a non-total custom route list
    # leaves unmatched rows sink=NULL, and they ARE written) is exact and
    # bounded. histogram_numeric over the partition id keeps one bin per
    # id up to _MAX_TASKS ids, so it counts each parse task exactly at
    # O(1) per row (a conditional sum per task costs O(tasks) per row).
    # No exchange separates the parse from the write, so the partition
    # id here is the parse task's.
    # Guarded to the Parquet/ORC v1 write path: obs.get has no timeout,
    # and CollectMetrics delivery through a DataFrameWriterV2 command
    # (IcebergIO) is unverified in this sandbox — there the counters
    # fall back to a groupBy over the committed table.
    from pyspark.sql import Observation

    route_names = cfg.route_names()
    use_observe = isinstance(io, ParquetIO)
    if use_observe:
        obs = Observation("route_metrics")
        # the id is projected first: histogram_numeric does not
        # initialize a nondeterministic argument like spark_partition_id
        pid = F.col("_part_id")
        tagged = tagged.withColumn("_part_id", F.spark_partition_id()).observe(
            obs,
            *[
                F.sum((F.col("sink") == n).cast("long")).alias(n)
                for n in route_names
            ],
            F.sum(F.col("sink").isNull().cast("long")).alias("_null_sink"),
            F.histogram_numeric(pid, F.lit(_MAX_TASKS)).alias("_rows"),
            F.histogram_numeric(F.when(F.col("error_kind").isNotNull(), pid), F.lit(_MAX_TASKS)).alias("_err"),
        ).drop("_part_id")
    # Writer tuning for the events sink (measured at 2 cores / 1.2M rows:
    # ~24 s -> ~21 s for the write job): columns that are unique-ish per
    # row BY CONSTRUCTION (ids, raw message, per-event timestamps, hosts,
    # sizes) gain nothing from parquet dictionary encoding — the writer
    # builds a dictionary per column chunk only to fall back to plain —
    # and the default 1 MB page granularity spends measurable CPU on page
    # flush/headers for wide rows. Dictionaries stay ON for the columns
    # that repeat: method, protocol, status_code, source, ua, version,
    # error_kind, and the URLs, which are not unique per row (120 and 10
    # distinct requested_url / requested_uri values in the 60k-row
    # benchmark table; a chunk whose dictionary outgrows its page falls
    # back to plain by itself).
    events_writer_options = {
        **{
            f"parquet.enable.dictionary#{c}": "false"
            for c in (
                "doc_id", "message", "timestamp_str", "timestamp",
                "remote_host", "content_length",
            )
        },
        "parquet.page.size": str(4 * 1024 * 1024),
        "parquet.page.row.count.limit": "200000",
        # page-level CRC32s are optional parquet metadata that Spark's
        # reader does not verify by default; computing them on every
        # page of a 100+ MB/task stream is pure writer CPU (measured:
        # ~2 s of a 15 s 2-core write job, stable across runs)
        "parquet.page.write-checksum.enabled": "false",
    }
    io.write(tagged, events_table, mode=mode, partition_by=events_by,
             options=events_writer_options)

    # The aggregate pass reads sink, timestamp, status_class, method and
    # source (and chunk_id) of the committed events, with the writer's
    # schema (no inference job), under the session's AQE: one exchange.
    events_back = io.read(spark, events_table, schema=tagged.schema).filter(in_chunk)
    counts = agg_op.sink_counts(events_back, cfg.bucket_granularity)
    io.write(counts.select("*", *chunk_cols), agg_table, mode=mode, partition_by=agg_by)

    partitions = None
    if use_observe:
        metrics = obs.get  # available: the sink write was the action
        # contract preserved from the agg-derived counters: only sinks
        # actually PRESENT appear (zero-count routes omitted, NULL-sink
        # rows reported under None like a groupBy would)
        per_sink = {
            n: int(metrics[n]) for n in route_names if int(metrics[n] or 0) > 0
        }
        if int(metrics["_null_sink"] or 0) > 0:
            per_sink[None] = int(metrics["_null_sink"])
        rows, err = _per_task(metrics["_rows"]), _per_task(metrics["_err"])
        partitions = [
            {"part_id": p, "rows": n, "err": err[p]} for p, n in sorted(rows.items())
        ]
    else:
        per_sink = {
            r["sink"]: r["n"]
            for r in io.read(spark, agg_table).filter(in_chunk)
            .groupBy("sink").agg(F.sum("n").alias("n")).collect()
        }
    rows_err = per_sink.get(route_op.DEAD_LETTER, 0)
    rows_in = sum(per_sink.values())
    return PipelineResult(
        rows_in=rows_in,
        rows_ok=rows_in - rows_err,
        rows_err=rows_err,
        sink_rows=per_sink,
        wall_sec=time.monotonic() - t0,
        parse_path=parse_path,
        fallback_reason=fallback_reason,
        partitions=partitions,
    )


def _per_task(histogram) -> Counter:
    """histogram_numeric bins -> {partition id: rows}. Merged partial
    histograms may hold several bins for one id; their counts add."""
    out = Counter()
    for b in histogram or ():
        out[int(b.x)] += int(b.y)
    return out


def final_counts(spark: SparkSession, io: TableIO, agg_table: str = "agg_counts") -> DataFrame:
    """The aggregate table summed over its per-chunk partial counts."""
    df = io.read(spark, agg_table)
    keys = ["sink", "bucket"] + agg_op.AGG_KEYS
    return df.groupBy(*keys).agg(F.sum("n").alias("n"))
