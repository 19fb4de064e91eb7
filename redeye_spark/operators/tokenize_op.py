"""The raw .log readers and the line -> token-array operator.

tokenize_lines materializes the pipeline's input shape (BASELINE.json
input_hint) from any DataFrame that carries raw line strings — e.g. the
entry queries that derive deterministic log lines from the testdata
`events` table. read_text_lines / text_lines_df read .log files in the
Python worker (sources.textfiles, which splits and numbers every text
input) into the same shapes. Every Python hop here is one of
operators.parse_op's line operators.
"""

from __future__ import annotations

from functools import partial

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


def _read_text(spark, path, num_tasks, emit) -> DataFrame:
    """``emit`` (a parse_op line operator) over the text files of
    ``path`` (sources.textfiles.line_source, with ``num_tasks`` byte-range
    tasks). The frame is marked with the line-source builder
    (textfiles.tag), so the parse can read the files itself."""
    files, reason = textfiles.list_text_files(spark, path)
    build = partial(textfiles.line_source, spark, files)
    n = num_tasks or spark.sparkContext.defaultParallelism
    return textfiles.tag(emit(build(n)), build, reason)


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
    exchange, and a hot file spreads over every task. Local .gz/.bz2
    files and files Spark reads whole join the same hop
    (sources.textfiles)."""
    return _read_text(spark, path, num_tasks, parse_op.lines)


def read_text_lines(spark, path: str) -> DataFrame:
    """Raw log files -> the pipeline's tokenized input shape — the
    direct analog of the reference's stdin mode (redeye.rs:82 reads
    plain text lines), for users whose corpus is .log files rather than
    a pre-tokenized table. See text_lines_df for the id/provenance
    contract; it reads with the session's parallelism in tasks.

    The returned frame is marked as a text reader's output, so
    plans.pipeline parses it in the same Python call that reads the
    files (parse path ``text_files``) instead of tokenizing here and
    detokenizing there. A frame derived from it (filtered, projected,
    chunked) is an ordinary plan and takes the general parse path over
    its token column."""
    return _read_text(spark, path, None, parse_op.tokens)
