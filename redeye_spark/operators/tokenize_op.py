"""The raw .log readers and the line -> token-array operator.

tokenize_lines materializes the pipeline's input shape (BASELINE.json
input_hint) from any DataFrame that carries raw line strings — e.g. the
entry queries that derive deterministic log lines from the testdata
`events` table. read_text_lines / text_lines_df read .log files in the
Python worker (sources.textfiles) into the same shapes. Every Python
hop here is one of operators.parse_op's line operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources import textfiles
from . import parse_op


def tokenize_lines(df: DataFrame) -> DataFrame:
    """(doc_id, source, line) -> (doc_id, tokens, n_tok, source).

    The token column is built buffer-level (the Arrow StringArray's byte
    buffer carved into a list<int32> directly) — no per-row Python
    materialization anywhere in the batch.
    """
    return parse_op.tokens(parse_op.string_column(df))


def _read_text(spark, path, num_tasks, emit, fallback) -> DataFrame:
    """Local uncompressed files: ``emit`` (a parse_op line operator)
    over ``num_tasks`` byte ranges (sources.textfiles). Other files:
    ``fallback`` over Spark's text scan and the numbering window. The
    frame is marked either way (textfiles.tag); a fallback mark also
    carries the numbered (doc_id, source, line) frame, so the parse can
    read those strings directly."""
    files, reason = textfiles.list_text_files(spark, path)
    if files is None:
        numbered = number_text_lines(textfiles.text_scan(spark, path))
        return textfiles.tag(fallback(numbered), None, reason, numbered)
    n = num_tasks or spark.sparkContext.defaultParallelism
    return textfiles.tag(emit(textfiles.line_source(spark, files, n)), files, None)


def text_lines_df(spark, path: str, num_tasks: int | None = None) -> DataFrame:
    """Raw log files -> (doc_id, source, line) — line strings with
    provenance ids, NOT yet tokenized (grok-style consumers extract
    straight from the line and should not pay a tokenize+detokenize
    round trip).

    doc_id is `<full path>#<physical_line_no>`: reproducible across
    runs for a fixed file set (unlike bare monotonically_increasing_id,
    whose values shift with partitioning), unique even when same-named
    files live in different directories, and it points back at the
    exact file line. Numbering counts PHYSICAL lines (blank lines are
    numbered, then dropped), so `sed -n '<n>p' <file>` lands on the
    offending record. source is the file basename. Blank lines are
    dropped after numbering (the reference warns-and-skips a trimmed
    empty line; here it carries no tokens at all).

    Local uncompressed files are read by ``num_tasks`` tasks (default:
    the session's parallelism), each owning the lines that start in its
    equal byte range of the files and numbering them itself — no
    exchange, and a hot file spreads over every task. Other files
    (compressed, non-local) take Spark's text scan and the per-file
    numbering window of number_text_lines, which holds each file on
    one reducer. Both give the same rows (sources.textfiles)."""
    return _read_text(spark, path, num_tasks, parse_op.lines, lambda df: df)


def number_text_lines(raw: DataFrame) -> DataFrame:
    """(_file, line) -> (doc_id, source, line) with per-file physical
    line numbering by a window — the id/provenance step of the
    streaming tail path (each micro-batch is a static frame, so the
    window applies there inside foreachBatch) and of batch text input
    that the worker-side reader does not take (compressed or
    non-local files)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
    return (
        raw.withColumn("_line_no", F.row_number().over(w))
        .filter(F.length(F.trim("line")) > 0)
        .select(
            F.concat(F.col("_file"), F.lit("#"), F.col("_line_no").cast("string"))
            .alias("doc_id"),
            F.regexp_extract("_file", r"([^/]+)$", 1).alias("source"),
            "line",
        )
    )


def read_text_lines(spark, path: str) -> DataFrame:
    """Raw log files -> the pipeline's tokenized input shape — the
    direct analog of the reference's stdin mode (redeye.rs:82 reads
    plain text lines), for users whose corpus is .log files rather than
    a pre-tokenized table. See text_lines_df for the id/provenance
    contract; it reads with the session's parallelism in tasks.

    The returned frame is marked as a text reader's output, so
    plans.pipeline parses it in the same Python call that reads the
    files (parse path ``text_files``), or for compressed and non-local
    files from the numbered line strings (one hop, parse path
    ``general``), instead of tokenizing here and detokenizing there. A
    frame derived from it (filtered, projected, chunked) is an ordinary
    plan and takes the general parse path over its token column."""
    return _read_text(spark, path, None, parse_op.tokens, tokenize_lines)
