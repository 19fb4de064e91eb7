"""Structured Streaming flavor of the log pipeline.

The reference's streaming story is the Unix pipe (src/bin/redeye.rs:82 —
one line in, one JSON line out; README "Tailing a File",
README.md:115-133). The Spark-native equivalent: readStream over the
tokenized input table (file source here; Iceberg/Kafka on a cluster) ->
foreachBatch, each micro-batch committed by the batch commit
(plans.pipeline.run_pipeline), plus watermarked windowed streams for
counts, joins, sessions and dedup over the same build_tagged plan.

A micro-batch is a checkpoint chunk whose id is the batch id: its rows
land in the ``chunk_id=<batch id>`` partitions of the events and
aggregate tables, and the commit overwrites exactly those partitions.
foreachBatch alone is at-least-once (a restart replays the batch that
had not been marked committed, with the same id and the same files), so
this overwrite is what makes the sinks exactly-once: a replayed batch
replaces its own rows instead of appending a second copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.pipeline import PipelineConfig, build_tagged, run_pipeline
from ..schema import RAW_SEQUENCES
from ..sources import textfiles
from ..sources.io import ParquetIO, TableIO


def read_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 4
) -> DataFrame:
    """File-source stream over the tokenized table. ``None`` = no
    per-trigger cap: under availableNow everything pending lands in ONE
    micro-batch — deterministic regardless of file order (no
    intra-stream late-drops; only the terminal watermark evicts), the
    mode the oracle-checked driver queries use."""
    reader = spark.readStream.schema(RAW_SEQUENCES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _start(writer, checkpoint_dir: str, trigger_available_now: bool):
    writer = writer.option("checkpointLocation", checkpoint_dir).outputMode("append")
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_pipeline_stream(
    spark: SparkSession,
    source_path: str,
    io: TableIO,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    events_table: str = "events_stream",
    trigger_available_now: bool = True,
):
    """Incremental parse->enrich->route->aggregate, one micro-batch at a
    time: each batch is one run_pipeline commit with chunk_id = batch
    id into ``events_table`` and ``agg_counts_stream``, so the sink
    layout, counters and writer tuning are the checkpointed batch
    run's, and a replayed batch overwrites its own partitions."""
    cfg = cfg or PipelineConfig()

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        run_pipeline(batch_df.sparkSession, batch_df, io, cfg, events_table=events_table,
                     agg_table="agg_counts_stream", chunk_id=batch_id)

    stream = read_stream(spark, source_path)
    return _start(stream.writeStream.foreachBatch(commit), checkpoint_dir, trigger_available_now)


def start_text_tail_stream(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    trigger_available_now: bool = True,
):
    """The reference's `tail -f access.log | redeye` mode
    (README.md:115-133) as Structured Streaming over raw .log text.

    A Spark file stream treats files as immutable, so "tail" becomes
    watching a spool DIRECTORY for appended log segments — exactly how
    log shippers (logrotate, fluentd, filebeat) hand files to a
    cluster; each drop of lines is one micro-batch. Spark's wholetext
    reader hands each segment over as one row, and the parse task that
    gets the row splits and numbers its lines (sources.textfiles:
    doc_id = file#line_no) in the one parse hop, with no window or
    exchange before it; each batch is committed by run_pipeline with
    chunk_id = batch id into ``out_dir``'s ``events`` and
    ``agg_counts`` tables. A segment must be under 2 GiB, the size
    Hadoop reads into one array, and so must the segments of one Arrow
    batch together (Spark closes a batch once it passes
    spark.sql.execution.arrow.maxBytesPerBatch, 64 MiB by default). The
    JSON-lines mirror of the committed ok rows (the reference's stdout,
    src/bin/redeye.rs:86-87) goes to ``events_json/chunk_id=<batch
    id>``, built from the committed events, so each line is parsed once.
    The streaming checkpoint makes a restart resume after the last
    committed segment — the pipe analog of not re-reading consumed
    stdin — and a replayed segment overwrites its own partitions."""
    import os

    from ..operators.parse_op import to_logstash_json

    cfg = cfg or PipelineConfig()
    io = ParquetIO(out_dir)
    segments = textfiles.whole_files(spark.readStream.text(watch_dir, wholetext=True))

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        # a micro-batch lists no input files, so every segment is read whole
        batch = textfiles.tag(batch_df, lambda _: textfiles.frame_source(batch_df),
                              "a tail segment is read whole by Spark's wholetext reader")
        if not run_pipeline(session, batch, io, cfg, chunk_id=batch_id).rows_ok:
            return  # no JSON lines; an events table with no files has no schema to read
        events = io.read(session, "events").filter(F.col("chunk_id") == batch_id)
        (
            to_logstash_json(events)
            .select("json", F.lit(batch_id).alias("chunk_id"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("chunk_id")
            .text(os.path.join(out_dir, "events_json"))
        )

    return _start(segments.writeStream.foreachBatch(commit), checkpoint_dir, trigger_available_now)


def start_windowed_counts(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = 4,
):
    """Watermarked per-window counts stream (status_class x method x
    source), the streaming version of operators/aggregate.sink_counts.
    The watermark bounds state: events later than `watermark` behind the
    max seen timestamp are dropped from the aggregation, so state size is
    O(active windows), not O(stream length). `slide` < `window` turns
    the tumbling windows into hopping ones (each event counted in
    window/slide overlapping windows — the streaming twin of
    aggregate.hopping_counts; the replication still happens inside the
    partial aggregate, and state grows by the same window/slide
    factor)."""
    cfg = cfg or PipelineConfig()
    raw = read_stream(spark, source_path, max_files_per_trigger)
    tagged = build_tagged(spark, raw, cfg)
    counts = (
        tagged.filter(F.col("timestamp").isNotNull())
        .withWatermark("timestamp", watermark)
        .groupBy(
            F.window("timestamp", window, slide or window).alias("w"),
            F.col("sink"), F.col("status_class"), F.col("method"), F.col("source"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("bucket"), "sink", "status_class", "method", "source", "n"
        )
    )
    return _start(
        counts.writeStream.format("parquet").option("path", out_path), checkpoint_dir, trigger_available_now
    )


def start_error_correlation_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig | None = None,
    key_col: str = "remote_host",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Watermarked stream-stream interval join: every 5xx error event is
    paired with the same key's (`key_col`: host, service, source...)
    preceding 2xx successes within `horizon` — the "what did this
    client do right before it started failing" correlation, the
    canonical impressions⋈clicks stream-stream shape.

    Both sides carry a watermark and the join condition bounds the
    event-time distance, which is exactly what lets Spark expire join
    state: each side buffers only rows newer than
    (max event time - watermark - horizon), so state is O(rate x
    horizon), not O(stream). An equality-only stream-stream join would
    be rejected as unbounded without these.

    Default single-batch trigger keeps the result deterministic and
    equal to the same join run in batch mode (multi-batch runs may
    additionally drop genuinely late rows at the watermark — correct,
    but input-file-order-dependent)."""
    cfg = cfg or PipelineConfig()
    raw = read_stream(spark, source_path, max_files_per_trigger)
    tagged = build_tagged(spark, raw, cfg).filter(F.col("timestamp").isNotNull())

    ok = (
        tagged.filter(F.col("status_class") == "2xx")
        .select(
            F.col(key_col).alias("host"),
            F.col("timestamp").alias("ok_ts"),
            F.col("requested_uri").alias("ok_uri"),
        )
        .withWatermark("ok_ts", watermark)
    )
    err = (
        tagged.filter(F.col("status_class") == "5xx")
        .select(
            F.col(key_col).alias("err_host"),
            F.col("timestamp").alias("err_ts"),
            F.col("status_code").alias("err_status"),
            F.col("doc_id").alias("err_doc_id"),
        )
        .withWatermark("err_ts", watermark)
    )
    joined = err.join(
        ok,
        F.expr(
            f"err_host = host AND "
            f"ok_ts >= err_ts - INTERVAL {horizon} AND ok_ts <= err_ts"
        ),
        "inner",
    ).select("err_doc_id", "err_host", "err_ts", "err_status", "ok_ts", "ok_uri")
    return _start(
        joined.writeStream.format("parquet").option("path", out_path), checkpoint, trigger_available_now
    )


def start_session_stream(
    spark: SparkSession,
    source_path: str,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig | None = None,
    key_col: str = "remote_host",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Watermarked NATIVE session windows over the parsed stream:
    `F.session_window` under readStream keeps per-key MERGING session
    state (two sessions fuse when a bridging event arrives) and emits a
    session once the watermark passes its close — the built-in
    streaming sessionizer next to the custom applyInPandasWithState one
    (operators/sessionize.py), exercising the merging-state code path
    the custom operator avoids. State is O(open sessions), bounded by
    the watermark. Default single-batch trigger keeps the emitted set
    deterministic (= sessions the terminal watermark closed)."""
    cfg = cfg or PipelineConfig()
    raw = read_stream(spark, source_path, max_files_per_trigger)
    from ..operators.sessionize import session_window_stats

    tagged = build_tagged(spark, raw, cfg).filter(
        F.col("timestamp").isNotNull() & F.col(key_col).isNotNull()
    )
    # one definition of a session: the batch operator runs verbatim on
    # the watermarked stream (session_window merges state under the hood)
    sessions = session_window_stats(
        tagged.withWatermark("timestamp", watermark),
        key=key_col, ts="timestamp", gap=gap,
    )
    return _start(
        sessions.writeStream.format("parquet").option("path", out_path), checkpoint, trigger_available_now
    )


def start_dedup_stream(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    cfg: PipelineConfig | None = None,
    watermark: str = "2 hours",
    key_cols: tuple[str, ...] = ("doc_id",),
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = 4,
):
    """Streaming exact dedup with BOUNDED state: the same parse/enrich
    plan, then a watermark on event time and
    dropDuplicatesWithinWatermark on the key — duplicates arriving
    within the watermark horizon are dropped across micro-batches, and
    state holds only the keys inside the horizon (the unbounded
    dropDuplicates() would grow state forever on an infinite stream).
    This is the streaming face of operators/dedup.exact_dedup: dedup a
    training-data firehose at ingest instead of in a batch sweep."""
    raw = read_stream(spark, input_path, max_files_per_trigger)
    tagged = build_tagged(spark, raw, cfg or PipelineConfig())
    ok = tagged.filter(F.col("timestamp").isNotNull())
    deduped = ok.withWatermark("timestamp", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return _start(
        deduped.writeStream.format("parquet").option("path", out_path), checkpoint, trigger_available_now
    )


def start_upsert_stream(
    spark: SparkSession,
    source_path: str,
    schema,
    io: TableIO,
    table: str,
    key_cols: list[str],
    checkpoint: str,
    order_col: str | None = None,
    partition_by: list[str] | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = 1,
):
    """CDC apply: a stream of change rows is MERGED into a table —
    foreachBatch + plans/maintenance.upsert_table per micro-batch, the
    streaming face of MERGE INTO (Kafka topic of upserts -> serving
    table). Later micro-batches supersede earlier ones for the same
    key (arrival order), `order_col` resolves versions WITHIN a batch.
    Exactly-once composition: the streaming checkpoint replays an
    uncommitted batch, and re-merging already-applied updates is a
    no-op (latest-wins idempotence), so crash/retry converges to the
    same table.

    Batch-order discipline: the "later batches supersede earlier"
    arrival rule only holds when each batch is ONE file
    (max_files_per_trigger=1). A wider cap folds several files into a
    batch where only `order_col` can rank them — required in that case
    (and None/unbounded is refused: collapsing ALL pending files into
    one batch silently replaces arrival order with order_col order, or
    dies on the duplicate-key assertion without one)."""
    from ..plans.maintenance import upsert_table

    if max_files_per_trigger is None or max_files_per_trigger < 1:
        raise ValueError(
            "start_upsert_stream needs a positive max_files_per_trigger: "
            "arrival order IS the CDC ordering, and an unbounded batch "
            "would collapse it"
        )
    if max_files_per_trigger > 1 and order_col is None:
        raise ValueError(
            "max_files_per_trigger > 1 folds several change files into one "
            "micro-batch — pass order_col to rank versions within a batch"
        )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_table(
            spark, io, table, batch_df, key_cols,
            partition_by=partition_by, order_col=order_col,
        )

    return _start(raw.writeStream.foreachBatch(apply_batch), checkpoint, trigger_available_now)


_TEMPLATE_LINES_SCHEMA = "doc_id string, source string, line string"


def start_template_census_stream(
    spark: SparkSession,
    source_path: str,
    partials_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 1,
    trigger_available_now: bool = True,
):
    """Incremental log-template census: each micro-batch of raw lines
    collapses to its PARTIAL census — (template, source, n_lines,
    example) — written to the partials table's batch_id=<batch id>
    partition (a replayed batch overwrites its own partials);
    merge_template_census reads the final census off the partials. The census is a mergeable
    sketch (counts add, distinct-source unions, min-example folds), so
    the merged result is independent of how the stream was
    micro-batched — the determinism the oracle pins. This is the
    streaming face of operators/templates.mine_templates: a tailed log
    keeps appending partials, and the census read stays
    template-cardinality-sized regardless of how long the tail runs."""
    from ..operators import templates

    reader = spark.readStream.schema(_TEMPLATE_LINES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.select(
                templates.template_expr("line").alias("template"),
                F.col("source"),
                F.col("line"),
            )
            .groupBy("template", "source")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.min("line").alias("example"),
            )
        )
        (
            part.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(partials_path)
        )

    return _start(raw.writeStream.foreachBatch(write_batch), checkpoint, trigger_available_now)


def merge_template_census(spark: SparkSession, partials_path: str) -> DataFrame:
    """Fold the streamed partials into the final census — identical
    output contract to templates.mine_templates on the whole corpus."""
    p = spark.read.parquet(partials_path)
    return p.groupBy("template").agg(
        F.sum("n_lines").alias("n_lines"),
        F.count_distinct("source").alias("n_sources"),
        F.min("example").alias("example"),
    )
