"""The worker-side text reader (sources.textfiles) against Spark's text
scan: read_text_lines / text_lines_df and the text_files parse path must
give the same rows as the scan -> numbering window -> tokenize ->
parse_sequences path (tests/text_reference.py) for every kind of file —
local plain, local .gz/.bz2, and files Spark's wholetext reader reads —
in one Python hop with no exchange before it."""

import bz2
import gzip
import io
import random
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F
from text_reference import number_text_lines, text_scan

from redeye_spark.operators import parse_op
from redeye_spark.operators.tokenize_op import read_text_lines, text_lines_df, tokenize_lines
from redeye_spark.plans.pipeline import PipelineConfig, parse_input, run_pipeline
from redeye_spark.sources import textfiles
from redeye_spark.sources.io import ParquetIO

LINE = b'1.2.3.4 - u1 [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.0" 200 10'
LINE2 = b'5.6.7.8 - - [11/Oct/2000:01:02:03 +0200] "POST /b?q=1 HTTP/1.1" 404 -'


def _write(path, data: bytes):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    return path


def _scan_rows(spark, path):
    """Today's general path: Spark's text scan, the numbering window,
    the tokenize hop, then parse_sequences."""
    tokens = tokenize_lines(number_text_lines(text_scan(spark, path)))
    return parse_op.parse_sequences(tokens, carry_tokens=True)


def _frame(df):
    pdf = df.toPandas()
    if "tokens" in pdf:
        pdf["tokens"] = pdf["tokens"].map(tuple)
    return pdf.sort_values("doc_id").reset_index(drop=True)


def assert_same_rows(spark, path, num_tasks, reason=None):
    """Whole parsed rows (doc_id, source, tokens, message, every field)
    through the text_files parse path equal the scan path's, from a plan
    with one MapInArrow and no Window or Exchange; so do the tokenized
    and line frames of the two readers."""
    expected = _frame(_scan_rows(spark, path))
    raw = read_text_lines(spark, path)
    parsed, parse_path, why = parse_input(
        spark, raw, PipelineConfig(num_partitions=num_tasks, carry_tokens=True)
    )
    assert (parse_path, why) == ("text_files", reason)
    pd.testing.assert_frame_equal(_frame(parsed), expected)
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "Window" not in plan and "Exchange" not in plan, plan
    old_tokens = tokenize_lines(number_text_lines(text_scan(spark, path)))
    pd.testing.assert_frame_equal(_frame(raw), _frame(old_tokens))
    old_lines = number_text_lines(text_scan(spark, path))
    pd.testing.assert_frame_equal(
        _frame(text_lines_df(spark, path, num_tasks)), _frame(old_lines), check_dtype=False
    )
    return expected


class TestRowsIdenticalToScanPath:
    def test_line_endings_and_blank_lines(self, spark, tmp_path):
        _write(tmp_path / "crlf.log", LINE + b"\r\n" + LINE2 + b"\r\n\r\n" + LINE)
        _write(tmp_path / "cr.log", LINE + b"\r" + LINE2 + b"\r\r" + LINE + b"\r")
        _write(tmp_path / "mixed.log", LINE + b"\r\n" + LINE2 + b"\r" + LINE + b"\n")
        # empty, spaces-only (dropped), tab-only (kept: trim strips spaces only)
        _write(tmp_path / "blank.log", b"\n   \n\t\n" + LINE + b"\n \t \n\n")
        _write(tmp_path / "empty.log", b"")
        _write(tmp_path / "bom.log", b"\xef\xbb\xbf" + LINE + b"\n" + LINE2)
        for n in (1, 4):
            rows = assert_same_rows(spark, str(tmp_path), n)
        ids = set(rows["doc_id"])
        assert f"{tmp_path}/cr.log#4" in ids and f"{tmp_path}/cr.log#3" not in ids
        assert f"{tmp_path}/blank.log#3" in ids  # the tab-only line
        assert f"{tmp_path}/blank.log#2" not in ids  # the spaces-only line
        assert not any(i.startswith(f"{tmp_path}/empty.log") for i in ids)
        assert rows.loc[rows["doc_id"] == f"{tmp_path}/crlf.log#2", "message"].item() == LINE2.decode()

    def test_last_line_without_newline(self, spark, tmp_path):
        _write(tmp_path / "a.log", LINE + b"\n" + LINE2)
        rows = assert_same_rows(spark, str(tmp_path), 2)
        assert list(rows["doc_id"]) == [f"{tmp_path}/a.log#1", f"{tmp_path}/a.log#2"]

    def test_range_boundaries_mid_line_and_on_newline(self, spark, tmp_path):
        # 30 bytes over 3 tasks: cuts at byte 10 (the first "\n") and
        # byte 20 (inside the second line)
        data = b"A" * 10 + b"\n" + b"B" * 14 + b"\n" + b"C" * 4
        assert len(data) == 30 and data[10:11] == b"\n" and data[20:21] == b"B"
        _write(tmp_path / "cut.log", data)
        rows = assert_same_rows(spark, str(tmp_path), 3)
        assert list(rows["doc_id"]) == [f"{tmp_path}/cut.log#{i}" for i in (1, 2, 3)]

    def test_one_file_over_many_tasks(self, spark, tmp_path):
        rng = random.Random(5)
        lines = [rng.choice([LINE, LINE2, b"", b"junk " * rng.randint(0, 9)]) for _ in range(400)]
        _write(tmp_path / "hot.log", b"\n".join(lines) + b"\n")
        _write(tmp_path / "cold.log", LINE + b"\n")
        for n in (3, 7, 16):
            assert_same_rows(spark, str(tmp_path), n)
        ranges = textfiles.byte_ranges([len(b"\n".join(lines)) + 1], 7)
        assert sum(1 for r in ranges if r) == 7  # every task holds part of the file

    def test_same_basename_in_two_dirs_and_a_space_in_a_dir(self, spark, tmp_path):
        _write(tmp_path / "hostA" / "access.log", LINE + b"\n")
        _write(tmp_path / "host B" / "access.log", LINE2 + b"\n" + LINE + b"\n")
        rows = assert_same_rows(spark, str(tmp_path) + "/*/", 3)
        assert len(set(rows["doc_id"])) == 3 and set(rows["source"]) == {"access.log"}
        # Spark lists URL-encoded paths, and doc_id has always carried them
        assert f"{tmp_path}/host%20B/access.log#2" in set(rows["doc_id"])

    def test_invalid_utf8_fails_on_both_paths(self, spark, tmp_path):
        bad = LINE + b"\n\xff\xfe bad \xc3\n" + LINE2 + b"\n"
        for name, data in (("bad.log", bad), ("bad.log.gz", gzip.compress(bad))):
            path = _write(tmp_path / name / name, data)
            with pytest.raises(Exception):
                _scan_rows(spark, str(path.parent)).collect()
            raw = read_text_lines(spark, str(path.parent))
            parsed, parse_path, _ = parse_input(spark, raw, PipelineConfig(num_partitions=2))
            assert parse_path == "text_files"
            with pytest.raises(Exception, match=re.escape(f"{path}#2: invalid UTF-8")):
                parsed.collect()

    def test_compressed_and_mixed_files_match_the_window(self, spark, tmp_path):
        """A local .gz (multi-member) or .bz2 file is streamed by one
        task and a Spark-written .lz4 file is read whole, all in the one
        parse hop, with the window reference's rows."""
        mixed = tmp_path / "mixed"
        body = (b"\xef\xbb\xbf" + LINE + b"\r\n\r\n   \n\t\n" + LINE2 + b"\r" + LINE
                + b"\n not a log line \r\n")
        _write(mixed / "plain.log", body)
        _write(mixed / "old.log.gz", gzip.compress(body) + gzip.compress(LINE2 + b"\n\n" + LINE))
        _write(mixed / "older.log.bz2", bz2.compress(body + LINE2))
        for n in (1, 3):
            rows = assert_same_rows(spark, str(mixed), n)
        ids = set(rows["doc_id"])
        # the second member numbers on from the first member's 7 lines
        assert {f"{mixed}/old.log.gz#1", f"{mixed}/old.log.gz#8", f"{mixed}/old.log.gz#10"} <= ids
        assert f"{mixed}/old.log.gz#9" not in ids and f"{mixed}/older.log.bz2#8" in ids

        # the second directory's name needs URL-encoding and glob escapes,
        # and its 12 files are packed several to a read partition
        lines = [LINE.decode(), "", "  ", LINE2.decode(), "junk"] * 50
        for name, n_files in (("lz4", 2), ("lz4 [1] {x} 100%", 12)):
            lz4 = tmp_path / name
            spark.createDataFrame([(x,) for x in lines], "value string").repartition(n_files) \
                .write.option("compression", "lz4").text(str(lz4))
            path = re.sub(r"([\\{}\[\]*?])", r"\\\1", str(lz4))
            files, reason = textfiles.list_text_files(spark, path)
            assert not files.paths and len(files.whole) == n_files
            assert reason.startswith(".lz4 file ") and "read whole" in reason
            rows = assert_same_rows(spark, path, 2, reason)
            assert len(rows) == 150
        assert f"{tmp_path}/lz4%20%5B1%5D%20%7Bx%7D%20100%25/part-" in rows["doc_id"][0]
        per_task = spark.read.text(path, wholetext=True).groupBy(F.spark_partition_id()).count().collect()
        assert max(n for _, n in per_task) > 1

    def test_arrow_batches_of_whole_files_are_cut_by_bytes(self, spark, tmp_path):
        """Spark closes an Arrow batch of whole-file rows once it passes
        maxBytesPerBatch, so a batch holds at most that plus one file;
        below it, one batch holds several files of a read partition."""
        for i in range(12):
            _write(tmp_path / f"f{i}.log", b"x" * 4000)
        frame = spark.read.text(str(tmp_path), wholetext=True).select(F.col("value").cast("binary"))

        def rows_per_batch(batches):
            import pyarrow as pa

            for batch in batches:
                yield pa.RecordBatch.from_pydict({"n": [batch.num_rows]})

        key = "spark.sql.execution.arrow.maxBytesPerBatch"
        old = spark.conf.get(key)
        try:
            for limit, most in (("6000b", 2), (old, 12)):
                spark.conf.set(key, limit)
                counts = [r.n for r in frame.mapInArrow(rows_per_batch, "n long").collect()]
                assert sum(counts) == 12 and 1 < max(counts) <= most, counts
        finally:
            spark.conf.set(key, old)

    def test_gz_file_takes_the_fallback(self, spark, tmp_path):
        """A .gz file cannot be cut into byte ranges: it falls back to one
        piece that one task streams through gzip, still on the text_files
        path and with the scan path's rows."""
        _write(tmp_path / "plain.log", LINE + b"\n")
        _write(tmp_path / "old.log.gz", gzip.compress(LINE2 + b"\n\n" + LINE + b"\n"))
        files, reason = textfiles.list_text_files(spark, str(tmp_path))
        assert reason is None and not files.whole
        gz = next(i for i, p in enumerate(files.paths) if p.endswith("old.log.gz"))
        assert files.streamed == {gz}
        pieces = [p for r in textfiles.byte_ranges(files.sizes, 4, files.streamed) for p in r if p[0] == gz]
        assert pieces == [(gz, 0, files.sizes[gz])]
        rows = assert_same_rows(spark, str(tmp_path), 2)
        assert set(rows["doc_id"]) == {f"{tmp_path}/plain.log#1", f"{tmp_path}/old.log.gz#1", f"{tmp_path}/old.log.gz#3"}

    def test_gz_fallback_parses_in_one_hop(self, spark, tmp_path):
        """A compressed input reaches the parse straight from the reader:
        the plan holds one MapInArrow and no MapInPandas."""
        _write(tmp_path / "old.log.gz", gzip.compress(LINE + b"\n" + LINE2 + b"\n"))
        raw = read_text_lines(spark, str(tmp_path))
        parsed, parse_path, _ = parse_input(spark, raw, PipelineConfig(num_partitions=2))
        assert parse_path == "text_files"
        plan = parsed._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
        assert parsed.count() == 2


class TestParsePathReport:
    def test_text_files_for_read_text_lines_and_general_when_filtered(self, spark, tmp_path):
        logs = tmp_path / "logs"
        _write(logs / "web.log", LINE + b"\nnot a log line\n" + LINE2 + b"\n")
        cfg = PipelineConfig(num_partitions=2)
        raw = read_text_lines(spark, str(logs))
        res = run_pipeline(spark, raw, ParquetIO(str(tmp_path / "a")), cfg)
        assert (res.parse_path, res.fallback_reason) == ("text_files", None)
        assert (res.rows_in, res.rows_err) == (3, 1)
        res = run_pipeline(spark, raw.filter("n_tok > 20"), ParquetIO(str(tmp_path / "b")), cfg)
        assert res.parse_path == "general" and "num_partitions" in res.fallback_reason
        res = run_pipeline(spark, raw.filter("n_tok > 20"), ParquetIO(str(tmp_path / "c")), PipelineConfig())
        assert res.parse_path == "general" and res.fallback_reason == "plan root is Filter, not a file scan"
        assert (res.rows_in, res.rows_err) == (2, 0)

    def test_parquet_scan_reasons(self, spark, tmp_path):
        from redeye_spark.schema import RAW_SEQUENCES

        spark.createDataFrame([("d#1", [65], 1, "s")], RAW_SEQUENCES).write.parquet(str(tmp_path / "t"))
        raw = spark.read.parquet(str(tmp_path / "t"))
        files, reason = parse_op.parquet_scan(raw)
        assert files and reason is None
        assert parse_op.parquet_scan(raw.select("doc_id"))[1].startswith("columns are not")
        assert parse_op.parquet_scan(raw.limit(1)) == (None, "plan root is GlobalLimit, not a file scan")
        assert parse_input(spark, raw, PipelineConfig())[1:] == ("parquet_files", None)


def _reference_lines(data: bytes):
    """Hadoop LineRecordReader semantics on a whole file, then the blank
    filter: (physical line number, line bytes)."""
    parts = re.split(rb"\r\n|\n|\r", data) if data else []
    if parts and re.search(rb"(\r\n|\n|\r)$", data):
        parts = parts[:-1]
    out = []
    for no, line in enumerate(parts, 1):
        if no == 1 and line.startswith(b"\xef\xbb\xbf"):
            line = line[3:]
        if line.strip(b" "):
            out.append((no, line))
    return out


def test_piece_reader_matches_line_semantics_for_any_cut_and_block():
    """Every byte range cut and read-block size, including 1-byte blocks
    that split a CRLF, gives the whole-file line split."""
    rng = random.Random(0)
    alphabet = [b"a", b" ", b"\t", b"\n", b"\r", b"\r\n", b"xyz", b"\xef\xbb\xbf"]
    for _ in range(400):
        data = b"".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        if rng.random() < 0.3:
            data = b"\xef\xbb\xbf" + data
        for n in (1, 2, 3, 7, 40):
            for block in (1, 2, 5, 1 << 20):
                got = []
                for pieces in textfiles.byte_ranges([len(data)], n):
                    for _, a, b in pieces:
                        for numbers, buf, offs in textfiles._read_piece(io.BytesIO(data), len(data), a, b, block):
                            raw = buf.tobytes()
                            got += [(int(k), raw[offs[j]:offs[j + 1]]) for j, k in enumerate(numbers)]
                assert got == _reference_lines(data), (data, n, block)


def test_byte_ranges_cover_every_byte_once():
    sizes = [0, 7, 1, 0, 30, 2]
    for n in (1, 2, 3, 8, 50):
        for uncut in (frozenset(), frozenset({3, 4})):  # a streamed file is one piece
            ranges = textfiles.byte_ranges(sizes, n, uncut)
            assert len(ranges) == n
            covered = sorted((i, a, b) for r in ranges for i, a, b in r)
            for i, size in enumerate(sizes):
                spans = [(a, b) for j, a, b in covered if j == i]
                assert sum(b - a for a, b in spans) == size
                assert all(b > a for a, b in spans)
            if uncut:  # in the range where its first byte, byte 8, falls
                assert (4, 0, 30) in ranges[min(k for k in range(n) if (k + 1) * 40 // n > 8)]
