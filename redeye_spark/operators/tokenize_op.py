"""Line <-> token-array operators and the raw .log readers.

tokenize_lines materializes the pipeline's input shape (BASELINE.json
input_hint) from any DataFrame that carries raw line strings — e.g. the
entry queries that derive deterministic log lines from the testdata
`events` table. read_text_lines / text_lines_df read .log files in the
Python worker (sources.textfiles) into the same shapes. Arrow-batched;
byte-level work is vectorized in functions.tokens.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, types as T

from ..functions.tokens import tokens_list_array, tokens_list_from_string_array
from ..functions.worker import steady_import_caches
from ..schema import RAW_SEQUENCES
from ..sources import textfiles

# text_lines_df's shape
LINES = T.StructType([T.StructField(c, T.StringType(), False) for c in ("doc_id", "source", "line")])


def tokenize_lines(df: DataFrame, line_col: str = "line") -> DataFrame:
    """(doc_id, source, <line_col>) -> (doc_id, tokens, n_tok, source).

    The token column is built buffer-level (tokens_list_array carves the
    Arrow StringArray's byte buffer into a list<int32> directly) — no
    per-row Python .tolist() materialization anywhere in the batch.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        steady_import_caches()
        for b in batches:
            if len(b) == 0:
                continue
            toks = tokens_list_array(b[line_col])
            lens = np.diff(toks.offsets.to_numpy(zero_copy_only=False)).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"].reset_index(drop=True),
                    "tokens": toks.to_pandas().reset_index(drop=True),
                    "n_tok": pd.Series(lens),
                    "source": b["source"].reset_index(drop=True),
                }
            )

    return df.mapInPandas(fn, schema=RAW_SEQUENCES)


def _emit_lines(doc_id, source, lines) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays([doc_id, source, lines], ["doc_id", "source", "line"])


def _emit_tokens(doc_id, source, lines) -> pa.RecordBatch:
    toks = tokens_list_from_string_array(lines)
    n_tok = pa.array(np.diff(toks.offsets.to_numpy()).astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [doc_id, toks, n_tok, source], ["doc_id", "tokens", "n_tok", "source"]
    )


def _read_text(spark, path, num_tasks, schema, emit, fallback) -> DataFrame:
    """Local uncompressed files: a mapInArrow over ``num_tasks`` byte
    ranges (sources.textfiles), ``emit`` shaping each (doc_id, source,
    line) batch. Other files: ``fallback`` over Spark's text scan and
    the numbering window. The frame is marked either way (textfiles.tag)."""
    files, reason = textfiles.list_text_files(spark, path)
    if files is None:
        df = fallback(number_text_lines(textfiles.text_scan(spark, path)))
    else:
        frame, read = textfiles.line_source(
            spark, files, num_tasks or spark.sparkContext.defaultParallelism
        )

        def fn(batches):
            steady_import_caches()
            for doc_id, source, lines, _ in read(batches):
                yield emit(doc_id, source, lines)

        df = frame.mapInArrow(fn, schema=schema)
    return textfiles.tag(df, files, reason)


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
    return _read_text(spark, path, num_tasks, LINES, _emit_lines, lambda df: df)


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
    files (parse path ``text_files``) instead of tokenizing here and
    detokenizing there. A frame derived from it (filtered, projected,
    chunked) is an ordinary plan and takes the general parse path."""
    return _read_text(spark, path, None, RAW_SEQUENCES, _emit_tokens, tokenize_lines)


def detokenize_lines(df: DataFrame, keep: tuple[str, ...] = ("doc_id", "source")) -> DataFrame:
    """(doc_id, tokens, ..., source) -> (<keep...>, line): the standalone
    inverse of tokenize_lines, for consumers that want raw lines WITHOUT
    the fixed-format parser (e.g. the --grok CLI path, which extracts
    fields JVM-side after this single Python exchange). Byte work is the
    same zero-copy Arrow StringArray construction the parse fast path
    uses (functions.tokens.detokenize)."""
    from pyspark.sql import types as T

    from ..functions.tokens import detokenize

    out_schema = T.StructType(
        [df.schema[c] for c in keep] + [T.StructField("line", T.StringType(), False)]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        steady_import_caches()
        for b in batches:
            if len(b) == 0:
                continue
            out = b[list(keep)].reset_index(drop=True)
            out["line"] = detokenize(b["tokens"]).reset_index(drop=True)
            yield out

    return df.select(*keep, "tokens").mapInPandas(fn, schema=out_schema)
