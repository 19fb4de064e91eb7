"""Structured Streaming tests: the stream path must produce the same sink
contents as the batch pipeline over the same input."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from redeye_spark.functions.logparse import FORMAT_COMBINED
from redeye_spark.plans.pipeline import PipelineConfig
from redeye_spark.schema import RAW_SEQUENCES
from redeye_spark.sources.datagen import gen_frame
from redeye_spark.sources.io import ParquetIO
from redeye_spark.streaming import stream as stream_mod


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream_src"))
    pdf = gen_frame(2000, fmt=FORMAT_COMBINED, seed=3, malformed_rate=0.05)
    df = spark.createDataFrame(pdf.drop(columns=["line"]), schema=RAW_SEQUENCES)
    # several files => several micro-batches with maxFilesPerTrigger
    df.repartition(6).write.mode("overwrite").parquet(base)
    return base, pdf


def test_stream_matches_batch(spark, source_dir, tmp_path_factory):
    base, pdf = source_dir
    out = str(tmp_path_factory.mktemp("stream_out"))
    io = ParquetIO(out)
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)

    q = stream_mod.start_pipeline_stream(
        spark, base, io, os.path.join(out, "_ckpt"), cfg, trigger_available_now=True
    )
    q.awaitTermination(300)

    got = io.read(spark, "events_stream")
    assert got.count() == len(pdf)
    assert got.select("chunk_id").distinct().count() >= 2  # true micro-batching

    # same routing as batch plan over the same input
    from redeye_spark.plans.pipeline import build_tagged
    batch = build_tagged(spark, spark.read.parquet(base), cfg)
    b = batch.groupBy("sink").count().toPandas().sort_values("sink").reset_index(drop=True)
    s = got.groupBy("sink").count().toPandas().sort_values("sink").reset_index(drop=True)
    pd.testing.assert_frame_equal(b, s)


def test_windowed_counts_stream(spark, source_dir, tmp_path_factory):
    base, pdf = source_dir
    out = str(tmp_path_factory.mktemp("wc_out"))
    q = stream_mod.start_windowed_counts(
        spark, base, os.path.join(out, "counts"), os.path.join(out, "_ckpt"),
        PipelineConfig(fmt=FORMAT_COMBINED), trigger_available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(os.path.join(out, "counts"))
    # counts over closed windows sum to <= ok-rows-with-timestamp; with
    # availableNow the final watermark flush emits all windows
    total = got.agg(F.sum("n")).collect()[0][0]
    assert total is not None and total > 0
    assert set(got.columns) == {"bucket", "sink", "status_class", "method", "source", "n"}


def test_streaming_dedup_within_watermark(spark, source_dir, tmp_path_factory):
    """Duplicates spread across micro-batches must collapse to one row
    per doc_id while state stays watermark-bounded."""
    base, pdf = source_dir
    dup_base = str(tmp_path_factory.mktemp("dedup_src"))
    src = spark.read.parquet(base)
    # duplicate a third of the rows and scatter them over several files
    dupes = src.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0)
    src.unionByName(dupes).repartition(6).write.mode("overwrite").parquet(dup_base)

    out = str(tmp_path_factory.mktemp("dedup_out"))
    q = stream_mod.start_dedup_stream(
        spark, dup_base, out + "/data", out + "/ckpt",
        cfg=PipelineConfig(fmt=FORMAT_COMBINED),
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out + "/data")
    # one row per parseable doc_id (error rows carry NULL timestamps and
    # are excluded before the dedup)
    from redeye_spark.plans.pipeline import build_tagged
    ok_ids = (build_tagged(spark, src, PipelineConfig(fmt=FORMAT_COMBINED))
              .filter(F.col("timestamp").isNotNull()).select("doc_id").distinct().count())
    assert got.count() == ok_ids
    assert got.select("doc_id").distinct().count() == ok_ids


def test_stream_stream_interval_join_matches_batch(spark, source_dir, tmp_path_factory):
    """The watermarked stream-stream interval join (5xx errors x same
    host's preceding-hour 2xx successes) must produce exactly the rows
    the identical join yields in batch mode over the same input."""
    base, pdf = source_dir
    out = str(tmp_path_factory.mktemp("ssj_out"))
    q = stream_mod.start_error_correlation_stream(
        spark, base, os.path.join(out, "joined"), os.path.join(out, "_ckpt"),
        PipelineConfig(fmt=FORMAT_COMBINED), key_col="source",
        trigger_available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(os.path.join(out, "joined")).toPandas()

    from redeye_spark.plans.pipeline import build_tagged
    tagged = build_tagged(
        spark, spark.read.parquet(base), PipelineConfig(fmt=FORMAT_COMBINED)
    ).filter(F.col("timestamp").isNotNull())
    ok = tagged.filter(F.col("status_class") == "2xx").select(
        F.col("source").alias("host"),
        F.col("timestamp").alias("ok_ts"),
        F.col("requested_uri").alias("ok_uri"),
    )
    err = tagged.filter(F.col("status_class") == "5xx").select(
        F.col("source").alias("err_host"),
        F.col("timestamp").alias("err_ts"),
        F.col("status_code").alias("err_status"),
        F.col("doc_id").alias("err_doc_id"),
    )
    exp = err.join(
        ok,
        F.expr("err_host = host AND ok_ts >= err_ts - INTERVAL 1 HOUR AND ok_ts <= err_ts"),
        "inner",
    ).select("err_doc_id", "err_host", "err_ts", "err_status", "ok_ts", "ok_uri").toPandas()

    assert len(exp) > 0, "fixture produced no correlated pairs — widen the corpus"
    key = ["err_doc_id", "err_ts", "ok_ts", "ok_uri"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g[sorted(got.columns)], e[sorted(exp.columns)],
                                  check_dtype=False)


def test_hopping_windowed_counts_stream_matches_batch(spark, source_dir, tmp_path_factory):
    """slide < window turns the streaming count into hopping windows;
    with a single-batch trigger the emitted (terminal-watermark-closed)
    windows must equal the batch hopping aggregate under the same
    eviction rule."""
    base, pdf = source_dir
    out = str(tmp_path_factory.mktemp("hop_out"))
    q = stream_mod.start_windowed_counts(
        spark, base, os.path.join(out, "counts"), os.path.join(out, "_ckpt"),
        PipelineConfig(fmt=FORMAT_COMBINED),
        window="1 hour", slide="30 minutes", watermark="2 hours",
        trigger_available_now=True, max_files_per_trigger=None,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(os.path.join(out, "counts"))

    from redeye_spark.operators.aggregate import hopping_counts
    from redeye_spark.plans.pipeline import build_tagged

    tagged = build_tagged(
        spark, spark.read.parquet(base), PipelineConfig(fmt=FORMAT_COMBINED)
    ).filter(F.col("timestamp").isNotNull())
    max_ts = tagged.agg(F.max("timestamp")).collect()[0][0]
    exp = (
        hopping_counts(tagged, "timestamp",
                       ["sink", "status_class", "method", "source"])
        .filter(F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
        .select(F.col("window_start").alias("bucket"),
                "sink", "status_class", "method", "source", "n")
    )
    key = ["bucket", "sink", "status_class", "method", "source"]
    g = got.toPandas().sort_values(key).reset_index(drop=True)
    e = exp.toPandas().sort_values(key).reset_index(drop=True)
    assert len(g) > 0
    pd.testing.assert_frame_equal(g[sorted(g.columns)], e[sorted(e.columns)],
                                  check_dtype=False)


def test_session_window_stream_matches_batch(spark, source_dir, tmp_path_factory):
    """Native session_window under readStream must emit exactly the
    sessions the batch session_window_stats computes, restricted to
    those the terminal watermark closed (a session closes at
    last_event + gap; only sessions with close <= max_ts - watermark
    are emitted in append mode)."""
    base, _pdf = source_dir
    out = str(tmp_path_factory.mktemp("sess_out"))
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)

    q = stream_mod.start_session_stream(
        spark, base, out + "/o", out + "/ckpt", cfg,
        key_col="remote_host", gap="30 minutes", watermark="2 hours",
    )
    assert q.awaitTermination(300)
    got = (
        spark.read.parquet(out + "/o")
        .toPandas()
        .sort_values(["remote_host", "session_start"])
        .reset_index(drop=True)
    )

    from redeye_spark.operators.sessionize import session_window_stats
    from redeye_spark.plans.pipeline import build_tagged

    tagged = build_tagged(spark, spark.read.parquet(base), cfg).filter(
        F.col("timestamp").isNotNull() & F.col("remote_host").isNotNull()
    )
    batch = session_window_stats(tagged, key="remote_host", ts="timestamp",
                                 gap_minutes=30)
    max_ts = tagged.agg(F.max(F.col("timestamp").cast("long"))).collect()[0][0]
    exp = (
        batch.withColumn(
            "_close",
            F.col("session_start").cast("long") + F.col("duration_sec") + 1800,
        )
        .filter(F.col("_close") <= max_ts - 7200)
        .drop("_close")
        .toPandas()
        .sort_values(["remote_host", "session_start"])
        .reset_index(drop=True)
    )
    assert len(exp) > 0, "fixture closed no sessions — widen the corpus"
    pd.testing.assert_frame_equal(
        got[exp.columns], exp, check_dtype=False
    )


def test_upsert_stream_applies_cdc_in_order(spark, tmp_path_factory):
    """Three single-file micro-batches of change rows must merge into a
    latest-wins table: later batches supersede earlier ones per key,
    order_col resolves versions within a batch, untouched keys
    survive."""
    import glob
    import shutil
    import time

    base = str(tmp_path_factory.mktemp("cdc"))
    src = base + "/src"
    os.makedirs(src)
    batches = [
        [(1, "a0", 0), (2, "b0", 0)],
        [(2, "b1", 1), (2, "b2", 2), (3, "c0", 0)],   # in-batch versions
        [(1, "a9", 9)],
    ]
    for i, rows in enumerate(batches):
        d = f"{base}/tmp{i}"
        spark.createDataFrame(rows, "k long, v string, ver long") \
            .coalesce(1).write.mode("overwrite").parquet(d)
        (f,) = glob.glob(d + "/part-*.parquet")
        os.rename(f, f"{src}/{i:02d}.parquet")
        shutil.rmtree(d, ignore_errors=True)
        time.sleep(0.05)  # ascending mtimes -> batch order

    from redeye_spark.sources.io import ParquetIO
    io = ParquetIO(base + "/tbl")
    q = stream_mod.start_upsert_stream(
        spark, src, "k long, v string, ver long", io, "t",
        key_cols=["k"], checkpoint=base + "/ckpt", order_col="ver",
    )
    assert q.awaitTermination(300)
    got = {r["k"]: (r["v"], r["ver"]) for r in io.read(spark, "t").collect()}
    assert got == {1: ("a9", 9), 2: ("b2", 2), 3: ("c0", 0)}


def test_text_tail_stream_two_appends(spark, tmp_path_factory):
    """README.md:115-133 (`tail -f | redeye`) as a spool-directory
    stream: two appended log segments, the second run's checkpoint
    resumes past the first segment, dead-letter routing and the
    JSON-lines stdout mirror intact."""
    base = str(tmp_path_factory.mktemp("tail"))
    watch, out, ckpt = f"{base}/spool", f"{base}/out", f"{base}/ckpt"
    os.makedirs(watch)
    pdf = gen_frame(60, fmt=FORMAT_COMBINED, seed=11, malformed_rate=0.0)
    lines = pdf["line"].tolist()
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)

    with open(f"{watch}/seg0.log", "w") as f:
        f.write("\n".join(lines[:30] + ["not a log line"]) + "\n")
    q = stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg)
    q.awaitTermination(300)
    ev = spark.read.parquet(out + "/events")
    assert ev.count() == 31
    assert ev.filter("sink = 'dead_letter'").count() == 1
    assert ev.filter("doc_id LIKE '%seg0.log#%'").count() == 31

    # the "tail" drops a second segment; same checkpoint => only the
    # new file is processed (no seg0 duplicates)
    with open(f"{watch}/seg1.log", "w") as f:
        f.write("\n".join(lines[30:]) + "\n")
    q = stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg)
    q.awaitTermination(300)
    ev = spark.read.parquet(out + "/events")
    assert ev.count() == 61
    assert ev.select("doc_id").distinct().count() == 61
    assert ev.filter("sink = 'dead_letter'").count() == 1

    js = spark.read.text(out + "/events_json")
    assert js.count() == 60  # ok rows only, one JSON line each
    import json as _json

    sample = _json.loads(js.limit(1).collect()[0]["value"])
    assert sample["@version"] == "1" and "@timestamp" in sample


def _forget_last_commit(ckpt):
    """Drop the checkpoint's last commit marker, as a crash between a
    micro-batch's sink write and its commit would: the restart replays
    that batch with the same id and the same files."""
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))


def test_replayed_batch_overwrites_its_rows(spark, source_dir, tmp_path_factory):
    base, pdf = source_dir
    out = str(tmp_path_factory.mktemp("replay_out"))
    io, ckpt = ParquetIO(out), os.path.join(out, "_ckpt")
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    assert stream_mod.start_pipeline_stream(spark, base, io, ckpt, cfg).awaitTermination(300)
    _forget_last_commit(ckpt)
    assert stream_mod.start_pipeline_stream(spark, base, io, ckpt, cfg).awaitTermination(300)

    got = io.read(spark, "events_stream")
    assert got.count() == len(pdf)
    assert got.select("doc_id").distinct().count() == len(pdf)
    assert got.select("chunk_id").distinct().count() >= 2
    assert io.read(spark, "agg_counts_stream").agg(F.sum("n")).collect()[0][0] == len(pdf)


def _tail_segment(watch):
    """31 lines into ``watch``/seg0.log: 30 Combined lines, one malformed."""
    os.makedirs(watch, exist_ok=True)
    lines = gen_frame(30, fmt=FORMAT_COMBINED, seed=11, malformed_rate=0.0)["line"].tolist()
    with open(f"{watch}/seg0.log", "w") as f:
        f.write("\n".join(lines + ["not a log line"]) + "\n")


def test_text_tail_replayed_segment_overwrites_its_rows(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("tail_replay"))
    watch, out, ckpt = f"{base}/spool", f"{base}/out", f"{base}/ckpt"
    _tail_segment(watch)
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    assert stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg).awaitTermination(300)
    _forget_last_commit(ckpt)
    assert stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg).awaitTermination(300)

    assert spark.read.parquet(out + "/events").count() == 31
    assert spark.read.text(out + "/events_json").count() == 30
    assert spark.read.parquet(out + "/agg_counts").agg(F.sum("n")).collect()[0][0] == 31


def test_text_tail_parses_each_line_once(spark, tmp_path_factory):
    """Across the SQL executions of a one-segment tail run, exactly one
    plan holds a Python map: one MapInArrow (the parse, which reads the
    segment itself) and no MapInPandas, with no Window or Exchange in
    that plan, and its kernel output is the segment's 31 lines — the
    JSON mirror and the aggregate read the committed events instead of
    re-running the parse."""
    base = str(tmp_path_factory.mktemp("tail_once"))
    watch = f"{base}/spool"
    _tail_segment(watch)
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    seen = execution_ids()
    q = stream_mod.start_text_tail_stream(
        spark, watch, f"{base}/out", f"{base}/ckpt", PipelineConfig(fmt=FORMAT_COMBINED)
    )
    assert q.awaitTermination(300)
    python_maps = []
    for eid in sorted(execution_ids() - seen):
        nodes = store.planGraph(eid).allNodes()
        nodes = [nodes.apply(i) for i in range(nodes.size())]
        maps = [n for n in nodes if n.name().startswith("MapIn")]
        if maps:
            python_maps.append((eid, maps))
    assert len(python_maps) == 1, [e for e, _ in python_maps]
    eid, maps = python_maps[0]
    assert [n.name() for n in maps] == ["MapInArrow"]
    nodes = store.planGraph(eid).allNodes()
    names = [nodes.apply(i).name() for i in range(nodes.size())]
    assert not [n for n in names if n == "Window" or "Exchange" in n], names
    metrics = store.executionMetrics(eid)
    out_rows = [
        metrics.get(m.accumulatorId()).get()
        for m in (maps[0].metrics().apply(i) for i in range(maps[0].metrics().size()))
        if m.name() == "number of output rows"
    ]
    assert out_rows == ["31"]


def test_text_tail_blank_segment_commits_nothing(spark, tmp_path_factory):
    """A micro-batch of blank lines only commits no rows and writes no
    JSON, and the next segment still lands."""
    base = str(tmp_path_factory.mktemp("tail_blank"))
    watch, out, ckpt = f"{base}/spool", f"{base}/out", f"{base}/ckpt"
    os.makedirs(watch)
    with open(f"{watch}/blank.log", "w") as f:
        f.write("\n   \n\n")
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    assert stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg).awaitTermination(300)
    assert not os.path.exists(out + "/events_json")
    _tail_segment(watch)
    assert stream_mod.start_text_tail_stream(spark, watch, out, ckpt, cfg).awaitTermination(300)
    assert spark.read.parquet(out + "/events").count() == 31
    assert spark.read.text(out + "/events_json").count() == 30
