"""One commit path: a plain run_pipeline call and each checkpoint chunk
are the same commit, so their sinks, counts and Spark jobs agree, and a
resume refuses a config that would change the output."""

import glob
import json
import os

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from redeye_spark.functions.logparse import FORMAT_COMBINED, FORMAT_COMMON
from redeye_spark.operators.route import Route
from redeye_spark.plans import checkpoint as ck
from redeye_spark.plans.pipeline import PipelineConfig, final_counts, run_pipeline
from redeye_spark.schema import RAW_SEQUENCES
from redeye_spark.sources.datagen import gen_frame
from redeye_spark.sources.io import ParquetIO

AGG_KEY = ["sink", "bucket", "status_class", "method", "source"]


@pytest.fixture(scope="module")
def raw(spark):
    pdf = gen_frame(2000, fmt=FORMAT_COMBINED, seed=5, malformed_rate=0.05)
    return spark.createDataFrame(pdf.drop(columns=["line"]), schema=RAW_SEQUENCES)


def _sorted(df: pd.DataFrame, key) -> pd.DataFrame:
    return df.sort_values(key).reset_index(drop=True)


def test_plain_run_equals_chunked_run(spark, raw, tmp_path):
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    plain_io, chunk_io = ParquetIO(str(tmp_path / "plain")), ParquetIO(str(tmp_path / "chunked"))
    res = run_pipeline(spark, raw, plain_io, cfg)
    manifest = ck.run_checkpointed(spark, raw, chunk_io, str(tmp_path / "ck"), cfg, n_chunks=3)

    plain = plain_io.read(spark, "events").toPandas()
    chunked = chunk_io.read(spark, "events").drop("chunk_id").toPandas()
    pd.testing.assert_frame_equal(_sorted(chunked[plain.columns], "doc_id"), _sorted(plain, "doc_id"))

    agg = plain_io.read(spark, "agg_counts").toPandas()
    final = final_counts(spark, chunk_io).toPandas()[agg.columns]
    pd.testing.assert_frame_equal(_sorted(final, AGG_KEY), _sorted(agg, AGG_KEY))

    summed = ck.manifest_result(manifest)
    assert summed.sink_rows == res.sink_rows
    assert (summed.rows_in, summed.rows_err) == (res.rows_in, res.rows_err)
    # both report per-partition rows and errors from the write itself
    assert sum(p["rows"] for p in res.partitions) == res.rows_in
    assert sum(p["err"] for p in res.partitions) == res.rows_err
    _assert_sink_format(plain_io)

    # a run whose first chunk an older build committed with INT96
    # timestamps resumes under the INT64 default and reads back the same
    key = "spark.sql.parquet.outputTimestampType"
    mixed_io, mixed_ckpt = ParquetIO(str(tmp_path / "mixed")), str(tmp_path / "ck_mixed")
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            ck.run_checkpointed(spark, raw, mixed_io, mixed_ckpt, cfg, n_chunks=3, fail_after=1)
    finally:
        spark.conf.set(key, before)
    ck.run_checkpointed(spark, raw, mixed_io, mixed_ckpt, cfg, n_chunks=3)
    files = glob.glob(os.path.join(mixed_io.location("events"), "**", "*.parquet"), recursive=True)
    schemas = [pq.ParquetFile(f).schema for f in files]
    assert {s.column(s.names.index("timestamp")).physical_type for s in schemas} == {"INT96", "INT64"}
    mixed = mixed_io.read(spark, "events").drop("chunk_id").toPandas()
    pd.testing.assert_frame_equal(_sorted(mixed[plain.columns], "doc_id"), _sorted(plain, "doc_id"))
    final = final_counts(spark, mixed_io).toPandas()[agg.columns]
    pd.testing.assert_frame_equal(_sorted(final, AGG_KEY), _sorted(agg, AGG_KEY))


_DICTIONARY = {"PLAIN_DICTIONARY", "RLE_DICTIONARY"}


_TIMESTAMPS = {("events", "timestamp"), ("agg_counts", "bucket")}


def _assert_sink_format(io):
    """Every sink file is zstd Parquet. The URL columns are dictionary
    encoded wherever their values repeat (the writer itself falls back to
    plain where a dictionary would not pay); doc_id and message, unique
    per row, are not. Timestamps are Iceberg's INT64 UTC microseconds,
    with the min/max statistics a time filter prunes on (Spark's INT96
    default carries none)."""
    repeating = timestamps = 0
    for table in ("events", "agg_counts"):
        files = glob.glob(os.path.join(io.location(table), "**", "*.parquet"), recursive=True)
        assert files, table
        for f in files:
            pf = pq.ParquetFile(f)
            meta = pf.metadata
            for rg in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    chunk = meta.row_group(rg).column(c)
                    name = chunk.path_in_schema
                    assert chunk.compression == "ZSTD", (f, name)
                    dictionary = bool(_DICTIONARY & set(chunk.encodings))
                    if name in ("requested_url", "requested_uri"):
                        values = pf.read_row_group(rg, columns=[name]).column(0).drop_null()
                        if len(values) and len(values) >= 2 * pc.count_distinct(values).as_py():
                            repeating += 1
                            assert dictionary, (f, name, chunk.encodings)
                    elif name in ("doc_id", "message"):
                        assert not dictionary, (f, name, chunk.encodings)
                    elif (table, name) in _TIMESTAMPS:
                        logical = json.loads(meta.schema.column(c).logical_type.to_json())
                        assert chunk.physical_type == "INT64", (f, name, chunk.physical_type)
                        assert logical["Type"] == "Timestamp", (f, name, logical)
                        assert logical["isAdjustedToUTC"] and logical["timeUnit"] == "microseconds", (f, name, logical)
                        stats = chunk.statistics
                        assert stats is not None, (f, name)
                        if stats.num_values:  # an all-null chunk has no min or max
                            timestamps += 1
                            assert stats.has_min_max, (f, name)
    assert repeating and timestamps


def test_chunk_commit_launches_no_extra_jobs(spark, raw, tmp_path, monkeypatch):
    """A chunk's commit costs the jobs of a plain run over the same rows:
    no schema-inference read-back and no metric re-read per chunk."""
    sc = spark.sparkContext
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    real = ck.input_fingerprints

    def fingerprints_elsewhere(*a, **kw):  # keep the lineage pass out of the count
        sc.setJobGroup("fingerprints", "fingerprints")
        try:
            return real(*a, **kw)
        finally:
            sc.setJobGroup("chunk-commit", "chunk-commit")

    monkeypatch.setattr(ck, "input_fingerprints", fingerprints_elsewhere)
    plain = jobs("plain-commit", lambda: run_pipeline(spark, raw, ParquetIO(str(tmp_path / "p")), cfg))
    chunk = jobs("chunk-commit", lambda: ck.run_checkpointed(
        spark, raw, ParquetIO(str(tmp_path / "c")), str(tmp_path / "ck"), cfg, n_chunks=1))
    assert 0 < chunk <= plain


def _write_plan_nodes(spark, table_path: str) -> list[str]:
    """Node descriptions of the executed plan (AQE's final plan) of the
    latest SQL execution that wrote ``table_path``, from the SQL status
    store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    for e in (execs.apply(i) for i in reversed(range(execs.size()))):
        nodes = store.planGraph(e.executionId()).allNodes()
        descs = [nodes.apply(i).desc() for i in range(nodes.size())]
        if any(d.startswith(f"Execute InsertIntoHadoopFsRelationCommand file:{table_path},") for d in descs):
            return descs
    raise AssertionError(f"no SQL execution wrote {table_path}")


def test_aggregate_runs_under_the_session_aqe(spark, raw, tmp_path):
    """run_pipeline sets no conf around its aggregate pass: at 200
    shuffle partitions the session's AQE coalesces the single-phase
    aggregate (one hash exchange, no salt), so the table has at most one
    file per core, and its rows equal a 4-partition run's."""
    key = "spark.sql.shuffle.partitions"
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    before = spark.conf.get(key)
    tables = {}
    try:
        for n in (200, 4):
            spark.conf.set(key, str(n))
            io = ParquetIO(str(tmp_path / str(n)))
            run_pipeline(spark, raw, io, cfg)
            tables[n] = io.read(spark, "agg_counts").toPandas()
    finally:
        spark.conf.set(key, before)
    files = list((tmp_path / "200" / "agg_counts").glob("part-*.parquet"))
    assert 0 < len(files) <= spark.sparkContext.defaultParallelism, len(files)
    pd.testing.assert_frame_equal(_sorted(tables[200], AGG_KEY), _sorted(tables[4], AGG_KEY))
    nodes = _write_plan_nodes(spark, str(tmp_path / "200" / "agg_counts"))
    assert len([d for d in nodes if d.startswith("Exchange hashpartitioning(")]) == 1, nodes
    assert not [d for d in nodes if "xxhash64" in d], nodes


def test_resume_refuses_a_config_that_changes_the_output(spark, raw, tmp_path):
    cfg = PipelineConfig(fmt=FORMAT_COMBINED)
    io, ckpt = ParquetIO(str(tmp_path / "out")), str(tmp_path / "ck")
    with pytest.raises(RuntimeError, match="injected failure"):
        ck.run_checkpointed(spark, raw, io, ckpt, cfg, n_chunks=2, fail_after=1)
    assert ck.load_manifest(ckpt)["config"]["bucket_granularity"] == "hour"
    for changed in (
        PipelineConfig(fmt=FORMAT_COMBINED, bucket_granularity="day"),
        PipelineConfig(fmt=FORMAT_COMMON),
        PipelineConfig(fmt=FORMAT_COMBINED, routes=[Route("all", "true")]),
    ):
        with pytest.raises(ValueError, match="resume with config="):
            ck.run_checkpointed(spark, raw, io, ckpt, changed, n_chunks=2)
    m = ck.run_checkpointed(spark, raw, io, ckpt, cfg, n_chunks=2)
    assert all(c["status"] == "complete" for c in m["chunks"].values())
    assert "salt_buckets" not in json.dumps(m)


def test_chunked_run_with_null_sinks_saves_its_manifest(spark, raw, tmp_path):
    """A non-total route list leaves rows with sink=NULL; the chunk's
    manifest entry records them under null."""
    cfg = PipelineConfig(fmt=FORMAT_COMBINED, routes=[Route("sink_2xx", "status_code BETWEEN 200 AND 299")])
    ck.run_checkpointed(spark, raw, ParquetIO(str(tmp_path / "out")), str(tmp_path / "ck"), cfg, n_chunks=2)
    chunks = ck.load_manifest(str(tmp_path / "ck"))["chunks"].values()
    assert sum(sum(c["sinks"].values()) for c in chunks) == 2000
    assert all("null" in c["sinks"] for c in chunks)
