"""Raw .log files read inside the Python worker.

The batch text input (the reference's stdin mode, src/bin/redeye.rs:82)
used to be a Spark text scan, a per-file numbering window and a
tokenize hop before the parse. Here the driver only lists the files;
each task reads its own byte range of them with plain file reads,
splits and numbers the lines with numpy, and hands Arrow arrays
straight to whatever runs in the same Python call (one of the line
operators of operators.parse_op: parse, lines or tokens).

Line semantics are Spark's text reader (Hadoop LineRecordReader with
the default delimiter), so output rows are identical to the scan path:

  * LF, CRLF and a lone CR each end a line; no empty line follows a
    final terminator; a last line without a terminator is a line;
  * a UTF-8 byte-order mark at the start of a file is dropped;
  * lines are numbered physically (1-based, blank lines counted) and
    lines of only spaces are dropped afterwards — Spark's ``trim``
    strips spaces only, so a tab-only line is kept;
  * doc_id is ``<path>#<line>`` where <path> is the file URI Spark
    lists (URL-encoded) without its scheme, and source its basename.

The task count is a caller's choice: the files are concatenated and cut
into that many equal byte ranges, and a range owns the lines that START
inside it. A range learns the number of its first line by counting
terminators in the file bytes before it, so a single hot file spreads
over every task without any exchange. That prefix count re-reads the
file head once per range — O(tasks x bytes) of sequential reads at
memchr speed, cheap next to the parse at the sizes a local session
reads; split multi-GB files upstream for very wide clusters.

Only local, uncompressed files take this path. Anything else (object
stores, HDFS, .gz and other Hadoop codecs) is reported with a reason,
and callers fall back to the Spark scan.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Iterator
from urllib.parse import unquote, urlparse

# scheme prefix Spark's file URIs carry ("file:", "file://", "hdfs://")
FILE_SCHEME = r"^[a-z0-9+.-]+:(//)?"
BLOCK_BYTES = 1 << 20  # bytes read per batch; bounds worker memory
_BOM = b"\xef\xbb\xbf"
_LF, _CR, _SPACE = 10, 13, 32


@dataclass(frozen=True)
class TextFiles:
    """Local text files in Spark's listing order."""

    uris: tuple[str, ...]  # as Spark lists them, URL-encoded
    paths: tuple[str, ...]  # local filesystem paths
    sizes: tuple[int, ...]  # bytes, at listing time


def file_lines(text):
    """A Spark text reader's frame (batch or streaming) as (_file, line),
    _file being the file URI without its scheme: the doc_id prefix of
    operators.tokenize_op.number_text_lines."""
    from pyspark.sql import functions as F

    return text.select(
        F.regexp_replace(F.input_file_name(), FILE_SCHEME, "").alias("_file"),
        F.col("value").alias("line"),
    )


def text_scan(spark, path):
    """Spark's text scan as (_file, line): the fallback source."""
    return file_lines(spark.read.text(path))


def _codec_suffixes(spark) -> tuple[str, ...]:
    """File suffixes of every compression codec Hadoop would apply when
    Spark reads these files (its factory matches by suffix too)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    classes = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory.getCodecClasses(conf)
    new = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance
    return tuple(str(new(c, conf).getDefaultExtension()) for c in classes)


def list_text_files(spark, path) -> tuple[TextFiles | None, str | None]:
    """The files Spark's text reader would read for ``path``, if every
    one is a local uncompressed file; else (None, why not)."""
    uris = list(spark.read.text(path).inputFiles())
    suffixes = _codec_suffixes(spark)
    paths, sizes = [], []
    for uri in uris:
        parsed = urlparse(uri)
        if parsed.scheme != "file" or parsed.netloc:
            return None, f"non-local file {uri}"
        if uri.endswith(suffixes):
            return None, f"compressed file {uri}"
        local = unquote(parsed.path)
        paths.append(local)
        sizes.append(os.path.getsize(local))
    return TextFiles(tuple(uris), tuple(paths), tuple(sizes)), None


def tag(df, files: TextFiles | None, reason: str | None, lines=None):
    """Mark ``df`` as the unmodified output of a text reader; a fallback
    read (``files`` None) also records its numbered (doc_id, source,
    line) frame. DataFrames are immutable and every transformation
    returns a new object, so the mark never survives a filter,
    projection or union."""
    df._redeye_text_files = (files, reason, lines)
    return df


def tagged(df) -> tuple[TextFiles | None, str | None] | None:
    """(files, fallback reason) if ``df`` is a text reader's own output."""
    mark = getattr(df, "_redeye_text_files", None)
    return mark and mark[:2]


def tagged_lines(df):
    """The numbered (doc_id, source, line) frame behind a fallback text
    read, else None."""
    mark = getattr(df, "_redeye_text_files", None)
    return mark and mark[2]


def byte_ranges(sizes, n: int) -> list[list[tuple[int, int, int]]]:
    """Cut the concatenated files into ``n`` equal byte ranges; range k
    is a list of (file index, start, end) pieces in file offsets."""
    total = sum(sizes)
    cuts = [k * total // n for k in range(n + 1)]
    out: list[list[tuple[int, int, int]]] = [[] for _ in range(n)]
    k, lo = 0, 0
    for i, size in enumerate(sizes):
        hi = lo + size
        while k < n and cuts[k + 1] <= lo:
            k += 1
        j = k
        while j < n and cuts[j] < hi:
            a, b = max(cuts[j], lo) - lo, min(cuts[j + 1], hi) - lo
            if b > a:
                out[j].append((i, a, b))
            j += 1
        lo = hi
    return out


def _terminators_before(f, end: int) -> int:
    """Line terminators ending before byte ``end``. A CRLF is one
    terminator at its LF, so a CR right before ``end`` followed by an LF
    at ``end`` does not count."""
    n, pos, prev_cr = 0, 0, False
    f.seek(0)
    while pos < end:
        chunk = f.read(min(BLOCK_BYTES, end - pos))
        if not chunk:
            break
        # bytes.count runs at memchr speed with no temporary array
        n += chunk.count(b"\n") + chunk.count(b"\r") - chunk.count(b"\r\n")
        if prev_cr and chunk[0] == _LF:
            n -= 1
        prev_cr = chunk[-1] == _CR
        pos += len(chunk)
    if prev_cr and f.read(1) == b"\n":
        n -= 1
    return n


def _read_piece(f, size: int, a: int, b: int, block: int):
    """Lines of one open file that start in [a, b): yields
    (line numbers int64, line bytes uint8, line offsets int64) per block
    read, blank (spaces-only) lines already dropped."""
    import numpy as np

    # start one byte early: whether `a` begins a line depends on a-1
    base = a - 1 if a else 0
    next_no = _terminators_before(f, base) + 1  # number of the line at `base`
    f.seek(base)
    carry = b""
    while True:
        chunk = f.read(min(block, size - base - len(carry)))
        data = carry + chunk
        eof = not chunk or base + len(data) >= size  # a file cut short ends here too
        arr = np.frombuffer(data, dtype=np.uint8)
        lf, cr = arr == _LF, arr == _CR
        term = lf.copy()
        term[:-1] |= cr[:-1] & ~lf[1:]
        if eof and len(arr):
            term[-1] |= cr[-1]  # a CR at end of file is a lone CR
        ends = np.flatnonzero(term)
        starts = np.empty(len(ends) + 1, dtype=np.int64)
        starts[0] = 0
        starts[1:] = ends + 1
        # content excludes the CR of a CRLF
        content_end = ends - (lf[ends] & (ends > starts[:-1]) & cr[np.maximum(ends - 1, 0)])
        line_start = starts[:-1]
        if eof and starts[-1] < len(arr):  # a last line with no terminator
            line_start = starts
            content_end = np.append(content_end, len(arr))
        numbers = next_no + np.arange(len(line_start), dtype=np.int64)
        next_no += len(ends)
        if base == 0 and len(line_start) and content_end[0] >= 3 and data[:3] == _BOM:
            line_start = line_start.copy()
            line_start[0] = 3
        nonspace = np.zeros(len(arr) + 1, dtype=np.int32)
        np.cumsum(arr != _SPACE, out=nonspace[1:])
        absolute = base + starts[: len(line_start)]  # BOM skip does not move ownership
        keep = (absolute >= a) & (absolute < b) & (nonspace[content_end] > nonspace[line_start])
        if keep.any():
            s, e = line_start[keep], content_end[keep]
            edge = np.zeros(len(arr) + 1, dtype=np.int8)
            edge[s] += 1
            edge[e] -= 1
            offsets = np.zeros(len(s) + 1, dtype=np.int64)
            np.cumsum(e - s, out=offsets[1:])
            yield numbers[keep], arr[np.cumsum(edge[:-1], dtype=np.int8) > 0], offsets
        if eof or base + starts[-1] >= b:
            return
        carry = data[starts[-1]:]
        base += int(starts[-1])


def read_ranges(files: TextFiles, pieces) -> Iterator[tuple]:
    """Worker side: the lines of the given (file index, start, end)
    pieces as Arrow arrays (doc_id, source, line), one tuple per block
    read. Invalid UTF-8 fails the task naming the file and line, as the
    scan path fails on it too."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for i, a, b in pieces:
        prefix = re.sub(FILE_SCHEME, "", files.uris[i], count=1)
        m = re.search(r"([^/]+)$", prefix)
        source = m.group(1) if m else ""
        with open(files.paths[i], "rb") as f:
            for numbers, data, offsets in _read_piece(f, files.sizes[i], a, b, BLOCK_BYTES):
                lines = pa.StringArray.from_buffers(
                    len(numbers), pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)
                )
                try:
                    lines.validate(full=True)
                except pa.ArrowInvalid:
                    for no, line in zip(numbers, lines.cast(pa.binary()).to_pylist()):
                        try:
                            line.decode("utf-8")
                        except UnicodeDecodeError as e:
                            raise ValueError(f"{prefix}#{no}: invalid UTF-8 ({e})") from None
                    raise
                doc_id = pc.binary_join_element_wise(
                    pa.scalar(prefix + "#"), pa.array(numbers).cast(pa.string()), ""
                )
                yield doc_id, pa.repeat(pa.scalar(source), len(numbers)), lines


def line_source(spark, files: TextFiles, num_tasks: int):
    """(frame, read) for a mapInArrow over ``num_tasks`` byte ranges of
    ``files``: the frame is one row per task (a natively partitioned
    range, so no exchange), and ``read`` maps a task's input batches to
    its (doc_id, source, line, tokens=None) batches."""
    ranges = byte_ranges(files.sizes, num_tasks)
    frame = spark.range(0, num_tasks, 1, num_tasks)

    def read(batches):
        for batch in batches:
            for k in batch.column(0).to_pylist():
                for doc_id, source, lines in read_ranges(files, ranges[k]):
                    yield doc_id, source, lines, None

    return frame, read
