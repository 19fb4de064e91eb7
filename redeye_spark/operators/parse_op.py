"""Line operators: log lines -> parsed events, line strings or token
arrays, each in one Python hop.

Every JVM<->Python hop over log lines runs one worker function (_hop):
a mapInArrow that reads lines from a pluggable source and hands each
Arrow batch to an emitter, so every input shape crosses the boundary
exactly once. The emitters are ``parse`` (regex parse and error
classification, the reference's per-line loop, src/bin/redeye.rs:82-89,
as one vectorized distributed operator), ``lines`` and ``tokens``.
Sources:

  token_column    (doc_id, tokens, n_tok, source) rows from any plan
  parquet_files   the same shape read by the worker from local parquet,
                  small files packed into tasks by Spark's split rule
  string_column   (doc_id, source, line) rows from any plan
  text files      raw .log files read, split and numbered by the worker
                  (sources.textfiles)

The worker function first calls functions.worker.steady_import_caches:
PySpark invalidates the import caches before every task, and on CPython
3.10-3.12 that re-reads pyspark.zip and the spark-core jar, which costs a
reused worker more CPU per task than the parse itself.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..functions.logparse import FORMAT_COMMON
from ..functions.worker import steady_import_caches
from ..schema import LINES, RAW_SEQUENCES, parsed_schema
from ..session import parse_memory

# (frame the mapInArrow runs over, worker-side function from its input
# batches to (doc_id, source, line, tokens-or-None) Arrow arrays)
LineSource = tuple[DataFrame, Callable[[Iterator], Iterator[tuple]]]


def token_column(df: DataFrame, num_partitions: int | None = None) -> LineSource:
    """Lines detokenized from the ``tokens`` column of (doc_id, tokens,
    n_tok, source) rows.

    num_partitions: explicit round-robin repartition BEFORE the UDF so the
    Python workers see even batches regardless of input-file skew (north
    rule: explicit repartitioning). Round-robin, not by `source` — the
    hot-source key must never become the partitioning key of the parse
    stage."""
    if num_partitions:
        df = df.repartition(num_partitions)

    def read(batches):
        from ..functions.tokens import detokenize_list_array

        for b in batches:
            # zero-copy byte carve from the list buffer
            toks = b.column("tokens")
            yield b.column("doc_id"), b.column("source"), detokenize_list_array(toks), toks

    return df, read


def string_column(df: DataFrame) -> LineSource:
    """Lines straight from the ``line`` column of (doc_id, source, line)
    rows: no token array ever crosses the boundary."""

    def read(batches):
        for b in batches:
            yield b.column("doc_id"), b.column("source"), b.column("line"), None

    return df, read


def file_tasks(spark, files: list[str]) -> list[list[str]]:
    """Local ``files`` packed into parse tasks by Spark's own file-split
    rule (FilePartition.maxSplitBytes / getFilePartitions), read from the
    session's spark.sql.files.* confs: a task holds at most

      cap = min(maxPartitionBytes,
                max(openCostInBytes, sum(size + openCost) / minPartitionNum))

    bytes, minPartitionNum defaulting to the default parallelism; files
    are taken largest first and a task is closed before a file that would
    push it past the cap, so a file bigger than the cap is a task of its
    own. Sizes come from the driver's listing."""
    conf = spark.conf
    max_bytes = parse_memory(conf.get("spark.sql.files.maxPartitionBytes"))
    open_cost = parse_memory(conf.get("spark.sql.files.openCostInBytes"))
    min_parts = int(conf.get("spark.sql.files.minPartitionNum", None) or spark.sparkContext.defaultParallelism)
    sizes = {f: os.path.getsize(f) for f in files}
    cap = min(max_bytes, max(open_cost, sum(s + open_cost for s in sizes.values()) // min_parts))
    tasks, size = [[]], 0
    for f in sorted(files, key=sizes.get, reverse=True):
        if tasks[-1] and size + sizes[f] > cap:
            tasks.append([])
            size = 0
        tasks[-1].append(f)
        size += sizes[f] + open_cost
    return tasks


def parquet_files(spark, files: list[str]) -> LineSource:
    """Columnar-source lines (guide §8 'read your own slice'): each task
    reads whole parquet files of the input shape with pyarrow, so the
    token arrays go parquet -> Arrow -> parse with ZERO JVM row
    materialization (measured: the JVM->Python round trip of the token
    column costs ~2x the parse kernel itself). The files are packed into
    tasks as Spark's own scan would pack them (file_tasks), so a table of
    many small files opens, writes and footers a file per sink per task,
    not per input file. Batches hold the session's
    spark.sql.execution.arrow.maxRecordsPerBatch rows, as Spark's own
    Arrow batches do (no limit when it is not positive)."""
    # one task index per partition via a natively-partitioned range —
    # no exchange at all (a repartition here cost a 2-stage AQE job per
    # action; a python-RDD parallelize cost a pickled-RDD python round
    # trip per task — both measured and removed). The file groups ride
    # the task binary (broadcast once per stage). Deterministic under
    # retry: each task re-reads the same files.
    tasks = file_tasks(spark, files)
    frame = spark.range(0, len(tasks), 1, len(tasks))
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def read(batches):
        import pyarrow.parquet as _pq

        from ..functions.tokens import detokenize_list_array

        for b in batches:
            for path in (p for i in b.column(0).to_pylist() for p in tasks[i]):
                pf = _pq.ParquetFile(path)
                size = batch_rows if batch_rows > 0 else max(1, pf.metadata.num_rows)
                for rb in pf.iter_batches(batch_size=size, columns=["doc_id", "tokens", "source"]):
                    toks = rb.column(1)
                    yield rb.column(0), rb.column(2), detokenize_list_array(toks), toks

    return frame, read


def _hop(source: LineSource, schema, emit) -> DataFrame:
    """The one JVM<->Python hop: a mapInArrow over the source's frame
    whose worker reads the source's batches and yields
    ``emit(doc_id, source, lines, tokens-or-None)`` for each non-empty
    one. Every line operator (parse, lines, tokens) runs on it."""
    frame, read = source

    def fn(batches):
        steady_import_caches()
        import pyarrow as pa

        # One compute thread per worker: task-level parallelism already
        # fills the cores; 32 workers x default 32-thread arrow pools
        # oversubscribe catastrophically.
        pa.set_cpu_count(1)
        for doc_id, src, lines, toks in read(batches):
            if len(lines):
                yield emit(doc_id, src, lines, toks)

    return frame.mapInArrow(fn, schema=schema)


def parse(
    source: LineSource,
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = True,
    validate: bool = False,
) -> DataFrame:
    """The parse operator: a line source -> parsed-event rows.

    carry_tokens=False prunes the token array immediately after the parse:
    at 10^12 rows the raw bytes dominate width, and Catalyst cannot prune
    columns *through* a Python boundary, so the choice happens here.
    Sources without a token column build it from the line bytes (one
    int32 token per UTF-8 byte, so detokenize(tokenize(line)) == line and
    the rows are identical whichever shape the input had).

    validate=True appends the token_ok invariant column
    (retokenize(message) == tokens, FIXTURES §3.1) in the same hop.
    redeye guarantees message == trimmed input line (parser.rs:165,306),
    so for pre-trimmed lines it holds for every row, dead-letter rows
    included.
    """
    schema = parsed_schema(carry_tokens)
    if validate:
        schema = T.StructType(schema.fields + [T.StructField("token_ok", T.BooleanType())])
    names = schema.names

    def emit(doc_id, src, lines, toks):
        import pyarrow as pa

        from ..functions.logparse import parse_lines_arrow
        from ..functions.tokens import tokens_equal_arrow, tokens_list_from_string_array

        cols = parse_lines_arrow(lines, fmt)
        arrays = [doc_id, src]
        if toks is None and (carry_tokens or validate):
            toks = tokens_list_from_string_array(lines)
        if carry_tokens:
            token_type = pa.list_(pa.int32())
            arrays.append(toks if toks.type == token_type else toks.cast(token_type))
        arrays.extend(cols.values())
        if validate:
            arrays.append(pa.array(tokens_equal_arrow(cols["message"], toks)))
        return pa.RecordBatch.from_arrays(arrays, names)

    return _hop(source, schema, emit)


def lines(source: LineSource) -> DataFrame:
    """A line source -> (doc_id, source, line) rows (schema.LINES), for
    consumers that want raw lines without the fixed-format parser (the
    text_lines_df reader, the --grok CLI path)."""

    def emit(doc_id, src, lines, toks):
        import pyarrow as pa

        return pa.RecordBatch.from_arrays([doc_id, src, lines], LINES.names)

    return _hop(source, LINES, emit)


def tokens(source: LineSource) -> DataFrame:
    """A line source -> the pipeline's input shape (doc_id, tokens,
    n_tok, source) (schema.RAW_SEQUENCES). A token column is built
    buffer-level from the line bytes: no per-row Python anywhere."""

    def emit(doc_id, src, lines, toks):
        import numpy as np
        import pyarrow as pa

        from ..functions.tokens import tokens_list_from_string_array

        if toks is None:
            toks = tokens_list_from_string_array(lines)
        n_tok = pa.array(np.diff(toks.offsets.to_numpy()).astype(np.int32))
        return pa.RecordBatch.from_arrays([doc_id, toks, n_tok, src], RAW_SEQUENCES.names)

    return _hop(source, RAW_SEQUENCES, emit)


def parse_sequences(
    df: DataFrame,
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, tokens, n_tok, source) -> parsed-event rows."""
    return parse(token_column(df, num_partitions), fmt, carry_tokens)


def parse_sequence_files(
    spark,
    files: list[str],
    fmt: str = FORMAT_COMMON,
    carry_tokens: bool = True,
) -> DataFrame:
    """Parquet files of the input shape -> parsed-event rows, the same
    rows as scan -> parse_sequences with whole files as task units."""
    return parse(parquet_files(spark, files), fmt, carry_tokens)


def parquet_scan(df: DataFrame) -> tuple[list[str] | None, str | None]:
    """(data-file paths, None) if ``df`` is a bare, local, batch parquet
    scan of the RAW_SEQUENCES shape (no filters/projections/limits on
    top); else (None, why not).

    This powers the ``parquet_files`` fast path. The detection is
    deliberately conservative — anything but the exact pattern falls
    back to the general ``token_column`` path.
    """
    from py4j.protocol import Py4JError

    if df.isStreaming:
        return None, "streaming input"
    if [f.name for f in df.schema.fields] != [f.name for f in RAW_SEQUENCES.fields]:
        return None, "columns are not (doc_id, tokens, n_tok, source)"
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        node = plan.getClass().getSimpleName()
        if node != "LogicalRelation":
            return None, f"plan root is {node}, not a file scan"
        file_format = plan.relation().fileFormat().toString()
        if "Parquet" not in file_format:
            return None, f"not a parquet scan ({file_format})"
        files = list(df.inputFiles())
    except (AttributeError, Py4JError) as e:
        return None, f"plan inspection failed: {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
    if len(files) > 200_000:
        # a millions-of-files table would make the driver-built paths
        # relation itself the bottleneck; the general scan path handles
        # that case (and compaction is the real fix)
        return None, f"{len(files)} files, over the 200000-file limit"
    paths = []
    for f in files:
        if f.startswith("file://"):  # a URI: "a b%" is listed as a%20b%25
            paths.append(unquote(f[len("file://"):]))
        elif f.startswith("/"):
            paths.append(f)
        else:  # object store / non-local scheme: stay on the general path
            return None, f"non-local file {f}"
    if not paths:
        return None, "no input files"
    return paths, None


def parquet_scan_files(df: DataFrame) -> list[str] | None:
    """``parquet_scan`` without the reason."""
    return parquet_scan(df)[0]


def logstash_struct() -> Column:
    """The Logstash JSON object as a Spark struct, field names exactly as
    redeye emits them (parser.rs:154-166,291-307): "@timestamp",
    "@version", nested request_headers with literal key "user-agent".

    to_json drops NULL fields by default, reproducing redeye's key
    omission for '-' values (parser.rs:522-528); the request_headers
    struct is NULLed when both children are absent so the whole key
    vanishes (complete_mapping, parser.rs:447-452).
    """
    return F.struct(
        F.col("remote_host"),
        F.col("ident"),
        F.col("remote_user"),
        F.col("timestamp_str").alias("@timestamp"),
        F.col("requested_url"),
        F.col("method"),
        F.col("requested_uri"),
        F.col("protocol"),
        F.col("status_code"),
        F.col("content_length"),
        F.when(
            F.col("referer").isNotNull() | F.col("user_agent").isNotNull(),
            F.struct(F.col("referer"), F.col("user_agent").alias("user-agent")),
        ).alias("request_headers"),
        F.col("version").alias("@version"),
        F.col("message"),
    )


def canonical_json_struct() -> Column:
    """The same Logstash JSON object with keys in SORTED (asciibetical)
    order at every nesting level — the jq -S canonical form the reference
    README itself uses to compare outputs (redeye's HashMap key order is
    nondeterministic, README.md:55-90 pipes through `jq -S`). to_json
    emits struct fields in declaration order and drops NULLs at every
    level, so declaring them sorted IS the canonicalization."""
    return F.struct(
        F.col("timestamp_str").alias("@timestamp"),
        F.col("version").alias("@version"),
        F.col("content_length"),
        F.col("ident"),
        F.col("message"),
        F.col("method"),
        F.col("protocol"),
        F.col("remote_host"),
        F.col("remote_user"),
        F.when(
            F.col("referer").isNotNull() | F.col("user_agent").isNotNull(),
            F.struct(F.col("referer"), F.col("user_agent").alias("user-agent")),
        ).alias("request_headers"),
        F.col("requested_uri"),
        F.col("requested_url"),
        F.col("status_code"),
    )


def to_canonical_json(parsed: DataFrame) -> DataFrame:
    """Canonical (sorted-key) JSON-lines projection of ok rows: the
    order-insensitive comparison form of the S2 sink, hashable across
    engines."""
    return parsed.filter(F.col("error_kind").isNull()).select(
        F.col("doc_id"), F.to_json(canonical_json_struct()).alias("json")
    )


def to_logstash_json(parsed: DataFrame) -> DataFrame:
    """JSON-lines sink projection (S2, src/bin/redeye.rs:86-87):
    one JSON string per ok row. Key order differs from the reference's
    HashMap order, which is nondeterministic anyway (README pipes through
    `jq -S`); comparisons must be key-order-insensitive."""
    return parsed.filter(F.col("error_kind").isNull()).select(
        F.col("doc_id"), F.to_json(logstash_struct()).alias("json")
    )
