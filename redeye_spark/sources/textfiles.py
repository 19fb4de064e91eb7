"""Raw .log files read inside the Python worker: the only code that
splits and numbers text lines (batch text input, the reference's stdin
mode, src/bin/redeye.rs:82, and the streaming tail). The numbered lines
go as Arrow arrays straight to the line operator running in the same
Python call (operators.parse_op: parse, lines or tokens). The driver
only lists the files and gives each the cheapest reader that can read it:

  * local uncompressed: byte ranges, each read by its task;
  * local .gz / .bz2: streamed through Python's gzip / bz2 by one task,
    as one uncut piece of the byte-range plan;
  * anything else (object stores, HDFS, lz4/snappy/zstd, tail
    segments): a row of Spark's ``wholetext`` reader, which
    decompresses JVM-side into one array, so under 2 GiB per file.
    These rows reach the worker in Arrow batches with 32-bit offsets,
    and Spark closes a batch once it passes
    spark.sql.execution.arrow.maxBytesPerBatch (64 MiB by default): the
    files of one batch, at most that much plus one file, must together
    stay under 2 GiB, and a task holds one batch in memory.

_read_piece splits and numbers every kind with the semantics of Spark's
text reader (Hadoop LineRecordReader with the default delimiter), so
rows equal a text scan numbered per file:

  * LF, CRLF and a lone CR each end a line; no empty line follows a
    final terminator; a last line without a terminator is a line;
  * a UTF-8 byte-order mark at the start of a file is dropped;
  * lines are numbered physically (1-based, blank lines counted) and
    lines of only spaces are dropped afterwards — Spark's ``trim``
    strips spaces only, so a tab-only line is kept;
  * doc_id is ``<path>#<line>`` where <path> is the file URI Spark
    lists (URL-encoded) without its scheme, and source its basename.

The byte-range task count is a caller's choice: the local uncompressed
files are concatenated and cut into that many equal byte ranges, and a
range owns the lines that START inside it. A range learns the number of
its first line by counting terminators in the file bytes before it, so
a single hot file spreads over every task without any exchange. That
prefix count re-reads the file head once per range — O(tasks x bytes)
of sequential reads at memchr speed, cheap next to the parse at the
sizes a local session reads; split multi-GB files upstream for very
wide clusters. A streamed or whole file is split and parsed by the one
task that reads it, whatever the task count.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass
from typing import Iterator
from urllib.parse import unquote, urlparse

# scheme prefix Spark's file URIs carry ("file:", "file://", "hdfs://")
FILE_SCHEME = r"^[a-z0-9+.-]+:(//)?"
BLOCK_BYTES = 1 << 20  # bytes read per batch; bounds worker memory
STREAMED = (".gz", ".bz2")  # codecs a worker decompresses itself
_TO_END = sys.maxsize  # size and end of a piece read to its end
_BOM = b"\xef\xbb\xbf"
_LF, _CR, _SPACE = 10, 13, 32


@dataclass(frozen=True)
class TextFiles:
    """Text files in Spark's listing order, sorted by reader."""

    uris: tuple[str, ...]  # local files as Spark lists them, URL-encoded
    paths: tuple[str, ...]  # their local filesystem paths
    sizes: tuple[int, ...]  # bytes on disk, at listing time
    streamed: frozenset[int]  # indices of the .gz/.bz2 files
    whole: tuple[str, ...]  # URIs of the files Spark's wholetext reader reads


def whole_files(text):
    """A Spark ``wholetext`` reader's frame (batch or streaming) as
    LineSource frame rows: (task None, file URI, file bytes)."""
    from pyspark.sql import functions as F

    return text.select(
        F.lit(None).cast("long").alias("task"),
        F.input_file_name().alias("file"),
        F.col("value").cast("binary").alias("text"),
    )


def _codec_suffixes(spark) -> tuple[str, ...]:
    """File suffixes of every compression codec Hadoop would apply when
    Spark reads these files (its factory matches by suffix too)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    classes = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory.getCodecClasses(conf)
    new = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance
    return tuple(str(new(c, conf).getDefaultExtension()) for c in classes)


def list_text_files(spark, path) -> tuple[TextFiles, str | None]:
    """The files Spark's text reader would read for ``path``, sorted by
    reader, and why the first file read whole is (None if none is)."""
    suffixes = _codec_suffixes(spark)
    uris, paths, sizes, streamed, whole, reason = [], [], [], set(), [], None
    for uri in spark.read.text(path).inputFiles():
        parsed = urlparse(uri)
        codec = next((s for s in suffixes if uri.endswith(s)), None)
        if parsed.scheme != "file" or parsed.netloc:
            why = "non-local file"
        elif codec and codec not in STREAMED:
            why = f"{codec} file"
        else:
            if codec:
                streamed.add(len(paths))
            local = unquote(parsed.path)
            uris.append(uri)
            paths.append(local)
            sizes.append(os.path.getsize(local))
            continue
        whole.append(uri)
        reason = reason or f"{why} {uri} is read whole by Spark's wholetext reader"
    files = TextFiles(tuple(uris), tuple(paths), tuple(sizes), frozenset(streamed), tuple(whole))
    return files, reason


def tag(df, build, reason: str | None):
    """Mark ``df`` as the unmodified output of a text reader: ``build``
    maps a byte-range task count to the reader's line source, and
    ``reason`` says why a file is read whole (None if none is).
    DataFrames are immutable and every transformation returns a new
    object, so the mark never survives a filter, projection or union."""
    df._redeye_text = (build, reason)
    return df


def tagged(df):
    """(line-source builder, reason) if ``df`` is a text reader's own
    output, else None."""
    return getattr(df, "_redeye_text", None)


def byte_ranges(sizes, n: int, uncut=frozenset()) -> list[list[tuple[int, int, int]]]:
    """Cut the concatenated files into ``n`` equal byte ranges; range k
    is a list of (file index, start, end) pieces in file offsets. A
    file whose index is in ``uncut`` is one piece, in the range where it
    starts."""
    total = sum(sizes)
    cuts = [k * total // n for k in range(n + 1)]
    out: list[list[tuple[int, int, int]]] = [[] for _ in range(n)]
    k, lo = 0, 0
    for i, size in enumerate(sizes):
        hi = lo + size
        while k < n and cuts[k + 1] <= lo:
            k += 1
        if i not in uncut:
            j = k
            while j < n and cuts[j] < hi:
                a, b = max(cuts[j], lo) - lo, min(cuts[j + 1], hi) - lo
                if b > a:
                    out[j].append((i, a, b))
                j += 1
        elif size:
            out[k].append((i, 0, size))
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


def _arrow_lines(uri: str, blocks) -> Iterator[tuple]:
    """(doc_id, source, line) Arrow arrays of one file's _read_piece
    blocks. Invalid UTF-8 fails the task naming the file and line, as
    Spark's text scan fails on it too."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    prefix = re.sub(FILE_SCHEME, "", uri, count=1)
    m = re.search(r"([^/]+)$", prefix)
    source = m.group(1) if m else ""
    for numbers, data, offsets in blocks:
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


def read_ranges(files: TextFiles, pieces) -> Iterator[tuple]:
    """Worker side: the lines of the given (file index, start, end)
    pieces as _arrow_lines arrays; a streamed file is decompressed and
    read to its end."""
    import bz2
    import gzip

    for i, a, b in pieces:
        path = files.paths[i]
        if i in files.streamed:
            opener, size, b = gzip.open if path.endswith(".gz") else bz2.open, _TO_END, _TO_END
        else:
            opener, size = open, files.sizes[i]
        with opener(path, "rb") as f:
            yield from _arrow_lines(files.uris[i], _read_piece(f, size, a, b, BLOCK_BYTES))


def frame_source(frame, files: TextFiles | None = None, ranges=None):
    """(frame, read): ``read`` maps input batches of (task, file, text)
    rows to (doc_id, source, line, tokens=None) arrays. A row with a
    task reads that task's byte ranges of ``files``; a row without one
    is a whole file's bytes."""

    def read(batches):
        import pyarrow as pa

        for batch in batches:
            tasks, uris, texts = batch.columns
            for j, k in enumerate(tasks.to_pylist()):
                if k is not None:
                    blocks = read_ranges(files, ranges[k])
                else:
                    text = texts[j].as_buffer()
                    piece = _read_piece(pa.BufferReader(text), text.size, 0, text.size, BLOCK_BYTES)
                    blocks = _arrow_lines(uris[j].as_py(), piece)
                for doc_id, source, lines in blocks:
                    yield doc_id, source, lines, None

    return frame, read


def line_source(spark, files: TextFiles, num_tasks: int):
    """(frame, read) for a mapInArrow over ``num_tasks`` byte-range
    tasks of the local files (a natively partitioned range, so no
    exchange) followed by the wholetext scan of the files read whole."""
    from pyspark.sql import functions as F

    ranges = byte_ranges(files.sizes, num_tasks, files.streamed)
    frame = spark.range(0, num_tasks, 1, num_tasks).select(
        F.col("id").alias("task"),
        F.lit(None).cast("string").alias("file"),
        F.lit(None).cast("binary").alias("text"),
    )
    if files.whole:
        # Hadoop's Path takes an unescaped string and reads glob syntax,
        # so hand it the decoded path with its glob characters escaped;
        # input_file_name() then gives back the listed URI
        paths = [re.sub(r"([\\{}\[\]*?])", r"\\\1", unquote(u)) for u in files.whole]
        frame = frame.union(whole_files(spark.read.text(paths, wholetext=True)))
    return frame_source(frame, files, ranges)
