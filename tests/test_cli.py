"""job.py CLI parity tests: the reference's flag surface
(--common/--combined exclusivity, buffer sizing, JSON output mode)
driven in-process through real pipeline runs."""

import json
import os

import pytest

from redeye_spark import job as job_mod
from redeye_spark.schema import RAW_SEQUENCES
from redeye_spark.sources.datagen import gen_frame


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cli"))
    pdf = gen_frame(2000, fmt="combined", seed=11)
    spark.createDataFrame(pdf.drop(columns=["line"]), schema=RAW_SEQUENCES) \
        .write.mode("overwrite").parquet(base + "/raw")
    return base


def run_cli(base, *extra):
    argv = ["--combined-format", "--input", base + "/raw",
            "--output", base + "/out", "--master", None] + list(extra)
    argv = [a for a in argv if a is not None]
    argv.remove("--master")  # reuse the test session (get_spark getOrCreate)
    rc = job_mod.main(argv)
    assert rc == 0


def test_format_flags_mutually_exclusive():
    with pytest.raises(SystemExit):
        job_mod.build_arg_parser().parse_args(["--input", "i", "--output", "o"])
    with pytest.raises(SystemExit):
        job_mod.build_arg_parser().parse_args(
            ["--common-format", "--combined-format", "--input", "i", "--output", "o"])


def test_arrow_batch_rows_applies_to_session(spark, raw_dir, capsys):
    """The flag sets the session's Arrow batch size, and the parquet_files
    line source reads batches of that size: its read, run on the driver
    over one 2000-row file, yields no batch over 1234 rows."""
    import glob

    import pyarrow as pa

    from redeye_spark.operators import parse_op

    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        run_cli(raw_dir, "--arrow-batch-rows", "1234")
        assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "1234"
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_in"] == 2000
        one = raw_dir + "/one_file"
        spark.read.parquet(raw_dir + "/raw").coalesce(1).write.mode("overwrite").parquet(one)
        _, read = parse_op.parquet_files(spark, glob.glob(one + "/*.parquet"))
        sizes = [len(lines) for _, _, lines, _ in read([pa.record_batch([pa.array([0])], ["id"])])]
        assert sum(sizes) == 2000 and max(sizes) == 1234, sizes
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", before)


def test_json_sink_writes_reference_shaped_lines(spark, raw_dir, capsys):
    run_cli(raw_dir, "--json-sink")
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    json_dir = os.path.join(raw_dir, "out", "events_json")
    assert os.path.isdir(json_dir)
    lines = [r[0] for r in spark.read.text(json_dir).collect()]
    assert stats["json_rows"] == len(lines) == stats["rows_ok"]
    for line in lines[:50]:
        obj = json.loads(line)
        # reference contract: fixed keys present, '-' fields omitted
        assert obj["@version"] == "1"
        assert "@timestamp" in obj and "message" in obj and "remote_host" in obj
        assert "error_kind" not in obj
        if "request_headers" in obj:
            assert set(obj["request_headers"]) <= {"referer", "user-agent"}


def test_checkpointed_stats_carry_plain_run_keys(raw_dir, capsys):
    run_cli(raw_dir)
    plain = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    run_cli(raw_dir, "--checkpoint-dir", raw_dir + "/ck", "--chunks", "2")
    chunked = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {"sinks", "wall_sec", "parse_path", "fallback_reason"} <= set(plain)
    assert set(chunked) == set(plain) | {"chunks"}
    assert chunked["chunks"] == 2
    assert chunked["sinks"] == plain["sinks"]


def test_chunk_by_requires_checkpoint_dir(capsys):
    with pytest.raises(SystemExit):
        job_mod.main(["--combined-format", "--input", "i", "--output", "o",
                      "--chunk-by", "source"])


def test_grok_mode_extracts_fields(spark, raw_dir, capsys):
    """--grok parses an ad-hoc format: detokenize -> JVM regexp_extract
    columns; non-matching lines surface as grok_match=false, and the
    stats line counts them as rows_err."""
    pattern = (r"%{IPORHOST:remote_host} %{USER:ident} %{USER:user} "
               r"\[%{HTTPDATE:ts}\] "
               r'"%{WORD:method} %{NOTSPACE:path} %{NOTSPACE:protocol}" '
               r"%{INT:status} %{NOTSPACE:bytes} "
               r"%{QUOTEDSTRING:referer} %{QUOTEDSTRING:agent}")
    argv = ["--grok", pattern, "--input", raw_dir + "/raw",
            "--output", raw_dir + "/grok_out"]
    assert job_mod.main(argv) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_in"] == 2000
    assert stats["rows_ok"] > 1800  # combined-format corpus, ~0 malformed at seed 11
    back = spark.read.parquet(raw_dir + "/grok_out/events_grok")
    row = back.filter("grok_match").first()
    assert row["method"] in {"GET", "POST", "PUT", "DELETE", "HEAD"}
    assert row["status"].isdigit()


def test_grok_rejects_checkpoint_dir(raw_dir):
    with pytest.raises(SystemExit):
        job_mod.main(["--grok", "%{WORD:a}", "--input", raw_dir + "/raw",
                      "--output", raw_dir + "/x", "--checkpoint-dir", raw_dir + "/ck"])


def test_grok_rejects_json_sink(raw_dir):
    with pytest.raises(SystemExit):
        job_mod.main(["--grok", "%{WORD:a}", "--input", raw_dir + "/raw",
                      "--output", raw_dir + "/x", "--json-sink"])


class TestTextInput:
    def test_read_text_lines_shape_and_roundtrip(self, spark, tmp_path):
        from redeye_spark.operators.tokenize_op import read_text_lines

        p = tmp_path / "app.log"
        lines = ['1.2.3.4 - u1 [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.0" 200 10',
                 "",  # blank: dropped
                 '5.6.7.8 - u2 [10/Oct/2000:13:55:37 -0700] "GET /b HTTP/1.0" 404 20']
        p.write_text("\n".join(lines) + "\n")
        got = read_text_lines(spark, str(tmp_path)).orderBy("doc_id").collect()
        # physical line numbers (blank line 2 is numbered, then dropped)
        assert [r["doc_id"] for r in got] == [f"{p}#1", f"{p}#3"]
        assert all(r["source"] == "app.log" for r in got)
        assert bytes(got[0]["tokens"]).decode() == lines[0]
        assert got[1]["n_tok"] == len(lines[2])

    def test_cli_text_input_end_to_end(self, spark, tmp_path):
        import redeye_spark.job as job_mod

        logs = tmp_path / "logs"; logs.mkdir()
        (logs / "web.log").write_text(
            '9.9.9.9 - alice [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 99\n'
            "not a log line\n"
        )
        out = tmp_path / "out"
        rc = job_mod.main(["--common-format", "--text-input",
                           "--input", str(logs), "--output", str(out),
                           "--master", "local[2]"])
        assert rc == 0
        events = spark.read.parquet(str(out / "events"))
        rows = {r["doc_id"]: r for r in events.collect()}
        ok = rows[f"{logs}/web.log#1"]
        assert ok["remote_host"] == "9.9.9.9" and ok["status_code"] == 200
        assert rows[f"{logs}/web.log#2"]["sink"] == "dead_letter"

    def test_cli_grok_text_input_counts_every_line(self, spark, tmp_path, capsys):
        """--grok --text-input over plain .log files (read by the parse
        tasks) and over a directory that also holds a .log.gz (streamed
        by one of them): every non-blank line is counted, once."""
        import gzip

        import redeye_spark.job as job_mod

        ok = '9.9.9.9 - alice [10/Oct/2000:13:55:36 -0700] "GET /x HTTP/1.0" 200 99'
        logs = tmp_path / "logs"; logs.mkdir()
        (logs / "web.log").write_text(ok + "\n\nnot a log line\n")
        pattern = r'%{IPORHOST:host} %{USER:ident} %{USER:user} \[%{HTTPDATE:ts}\] "%{WORD:method} .*'

        def run(out):
            assert job_mod.main(["--grok", pattern, "--text-input", "--input", str(logs),
                                 "--output", str(tmp_path / out), "--parallelism", "2"]) == 0
            return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

        assert run("plain") == {"rows_in": 2, "rows_ok": 1, "rows_err": 1}
        (logs / "old.log.gz").write_bytes(gzip.compress((ok + "\n   \n" + ok + "\nbad\n").encode()))
        assert run("gz") == {"rows_in": 5, "rows_ok": 3, "rows_err": 2}
        ids = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "gz" / "events_grok")).collect()}
        assert ids == {f"{logs}/web.log#1", f"{logs}/web.log#3",
                       f"{logs}/old.log.gz#1", f"{logs}/old.log.gz#3", f"{logs}/old.log.gz#4"}

    def test_same_basename_in_two_dirs_does_not_collide(self, spark, tmp_path):
        from redeye_spark.operators.tokenize_op import read_text_lines

        for host in ("hostA", "hostB"):
            d = tmp_path / host; d.mkdir()
            (d / "access.log").write_text(f"line from {host}\n")
        got = read_text_lines(spark, str(tmp_path) + "/*/").collect()
        ids = [r["doc_id"] for r in got]
        assert len(ids) == 2 and len(set(ids)) == 2, ids
        assert all(r["source"] == "access.log" for r in got)


class TestMaintainCli:
    def test_compact_subcommand(self, spark, tmp_path, capsys):
        from redeye_spark import maintain
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        spark.range(3000).selectExpr("id", "md5(CAST(id AS STRING)) AS v") \
            .repartition(16).write.mode("overwrite").parquet(io.location("t"))
        rc = maintain.main(["compact", "--base", str(tmp_path), "--table", "t",
                            "--target-file-mb", "1024"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rewritten"] and stats["files_after"] == 1
        assert io.read(spark, "t").count() == 3000

    def test_upsert_subcommand(self, spark, tmp_path, capsys):
        from redeye_spark import maintain
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
            .write.parquet(io.location("t"))
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string") \
            .write.parquet(str(tmp_path / "updates"))
        rc = maintain.main(["upsert", "--base", str(tmp_path), "--table", "t",
                            "--updates", str(tmp_path / "updates"),
                            "--keys", "k"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["rows_upserted"] == 2
        got = {r["k"]: r["v"] for r in io.read(spark, "t").collect()}
        assert got == {1: "a", 2: "B", 3: "c"}


class TestMaintainExpireDelete:
    def test_expire_and_delete_subcommands(self, spark, tmp_path, capsys):
        from redeye_spark import maintain
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        spark.createDataFrame(
            [("d1", 1, "a"), ("d2", 2, "b"), ("d3", 3, "c")],
            "day string, k long, v string"
        ).write.partitionBy("day").parquet(io.location("t"))
        rc = maintain.main(["expire", "--base", str(tmp_path), "--table", "t",
                            "--partition-col", "day", "--drop", "d1"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["dropped"] == ["d1"]

        spark.createDataFrame([("d2", 2)], "day string, k long") \
            .write.parquet(str(tmp_path / "keys"))
        rc = maintain.main(["delete", "--base", str(tmp_path), "--table", "t",
                            "--keys-table", str(tmp_path / "keys"),
                            "--keys", "day,k", "--partition-by", "day"])
        assert rc == 0
        got = {r["k"] for r in io.read(spark, "t").collect()}
        assert got == {3}
