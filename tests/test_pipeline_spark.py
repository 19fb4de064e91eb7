"""Spark end-to-end tests: datagen -> parse -> enrich -> route -> aggregate,
with a DuckDB/pandas oracle for the aggregate counts (FIXTURES §3)."""

import json
import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from redeye_spark.functions.logparse import FORMAT_COMBINED, parse_lines
from redeye_spark.functions import tokens as tok
from redeye_spark.operators import enrich as enrich_op
from redeye_spark.operators import parse_op, route as route_op, aggregate as agg_op
from redeye_spark.plans.pipeline import PipelineConfig, run_pipeline
from redeye_spark.plans.checkpoint import final_counts, run_checkpointed
from redeye_spark.schema import RAW_SEQUENCES
from redeye_spark.sources.datagen import gen_frame, source_meta_frame
from redeye_spark.sources.io import ParquetIO

N = 3000


@pytest.fixture(scope="module")
def gen(spark):
    pdf = gen_frame(N, fmt=FORMAT_COMBINED, seed=7, malformed_rate=0.05)
    raw = spark.createDataFrame(pdf.drop(columns=["line"]), schema=RAW_SEQUENCES)
    return pdf, raw


@pytest.fixture(scope="module")
def tagged(spark, gen):
    pdf, raw = gen
    parsed = parse_op.parse_sequences(raw, fmt=FORMAT_COMBINED, carry_tokens=True)
    enriched = enrich_op.enrich(
        parsed,
        enrich_op.dim_status_class(spark),
        enrich_op.dim_ua_family(spark),
        spark.createDataFrame(source_meta_frame()),
    )
    t = route_op.tag_routes(enriched)
    t.persist()
    yield pdf, t
    t.unpersist()


def oracle_parse(pdf: pd.DataFrame) -> pd.DataFrame:
    """Independent oracle: the pure-pandas parser (unit-tested against the
    reference fixtures) applied to the original *lines*, bypassing
    tokenization and Spark entirely."""
    out = parse_lines(pdf["line"], FORMAT_COMBINED)
    out["doc_id"] = pdf["doc_id"].values
    out["source"] = pdf["source"].values
    return out


class TestParseOperator:
    def test_row_count_preserved(self, tagged):
        pdf, t = tagged
        assert t.count() == len(pdf)

    def test_matches_pandas_oracle_field_for_field(self, tagged):
        pdf, t = tagged
        got = (
            t.select("doc_id", "remote_host", "remote_user", "timestamp_str", "method",
                     "requested_uri", "protocol", "status_code", "content_length",
                     "referer", "user_agent", "message", "error_kind")
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        exp = oracle_parse(pdf)[got.columns].sort_values("doc_id").reset_index(drop=True)
        for c in got.columns:
            ge, ee = got[c], exp[c]
            both_na = ge.isna() & ee.isna()
            eq = (ge == ee) | both_na
            assert eq.all(), f"{c}: {got[~eq].head()} vs {exp[~eq].head()}"

    def test_token_invariant_all_rows(self, spark, gen):
        pdf, raw = gen
        checked = parse_op.parse(parse_op.token_column(raw), FORMAT_COMBINED, carry_tokens=True, validate=True)
        assert checked.filter(~F.col("token_ok")).count() == 0

    def test_json_output_key_omission(self, tagged):
        pdf, t = tagged
        js = t.filter(F.col("error_kind").isNull()).select(
            F.to_json(parse_op.logstash_struct()).alias("j")
        ).limit(500).collect()
        for r in js:
            d = json.loads(r.j)
            assert d["@version"] == "1"
            assert "error_kind" not in d
            assert None not in d.values()
            if "request_headers" in d:
                assert d["request_headers"]  # never an empty object


class TestEnrichRoute:
    def test_routes_are_total_and_exclusive(self, tagged):
        pdf, t = tagged
        assert t.filter(F.col("sink").isNull()).count() == 0
        per_sink = {r["sink"]: r["n"] for r in route_op.route_counts(t).collect()}
        assert sum(per_sink.values()) == len(pdf)
        assert route_op.DEAD_LETTER in per_sink  # malformed rate > 0

    def test_dead_letter_matches_oracle(self, tagged):
        pdf, t = tagged
        exp = oracle_parse(pdf)
        exp_bad = exp[exp["error_kind"].notna()]
        got_bad = t.filter(F.col("sink") == route_op.DEAD_LETTER).select(
            "doc_id", "error_kind").toPandas()
        assert len(got_bad) == len(exp_bad)
        merged = got_bad.merge(exp_bad[["doc_id", "error_kind"]], on="doc_id", suffixes=("_g", "_e"))
        assert (merged["error_kind_g"] == merged["error_kind_e"]).all()

    def test_status_class_enrichment(self, tagged):
        pdf, t = tagged
        bad = t.filter(
            F.col("status_code").isNotNull()
            & (F.col("status_class") != F.concat(F.floor(F.col("status_code") / 100).cast("string"), F.lit("xx")))
        )
        assert bad.count() == 0

    def test_ua_family(self, tagged):
        pdf, t = tagged
        rows = t.filter(F.col("user_agent").isNotNull()).select("user_agent", "ua_family").distinct().collect()
        for r in rows:
            ua, fam = r["user_agent"], r["ua_family"]
            if ua.startswith(("Mozilla", "Opera")):
                assert fam == "browser", (ua, fam)
            elif ua.startswith(("curl", "Wget", "python-requests")):
                assert fam == "cli", (ua, fam)
            elif ua.startswith(("Googlebot", "bingbot")):
                assert fam == "bot", (ua, fam)

    def test_source_meta_joined(self, tagged):
        pdf, t = tagged
        assert t.filter(F.col("region").isNull()).count() == 0


class TestAggregates:
    def test_salted_equals_plain(self, tagged):
        pdf, t = tagged
        plain = agg_op.sink_counts(t).toPandas()
        salted = agg_op.salted_counts(t, salt_buckets=8).toPandas()
        key = ["sink", "bucket", "status_class", "method", "source"]
        p = plain.sort_values(key).reset_index(drop=True)
        s = salted[p.columns].sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(p, s)

    def test_counts_match_duckdb_oracle(self, tagged):
        pdf, t = tagged
        got = agg_op.sink_counts(t).toPandas()
        # Build oracle input from the pandas parse + same enrich/route logic in SQL.
        exp_events = oracle_parse(pdf)
        con = duckdb.connect()
        con.register("ev", exp_events)
        exp = con.sql("""
            WITH e AS (
              SELECT *,
                CASE WHEN error_kind IS NOT NULL THEN NULL
                     WHEN status_code IS NULL THEN NULL
                     ELSE CAST(status_code // 100 AS VARCHAR) || 'xx' END AS status_class,
                CASE WHEN error_kind IS NOT NULL THEN 'dead_letter'
                     WHEN status_code // 100 = 2 THEN 'sink_2xx'
                     WHEN status_code // 100 = 3 THEN 'sink_3xx'
                     WHEN status_code // 100 IN (4,5) THEN 'sink_4xx5xx'
                     ELSE 'sink_other' END AS sink,
                date_trunc('hour', timestamp) AS bucket
              FROM ev)
            SELECT sink, bucket, status_class, method, source, COUNT(*) AS n
            FROM e GROUP BY ALL
        """).df()
        key = ["sink", "bucket", "status_class", "method", "source"]
        g = got.sort_values(key).reset_index(drop=True)
        e = exp[got.columns].sort_values(key).reset_index(drop=True)
        g["bucket"] = pd.to_datetime(g["bucket"], utc=True).astype("datetime64[us, UTC]")
        e["bucket"] = pd.to_datetime(e["bucket"], utc=True).astype("datetime64[us, UTC]")
        e["n"] = e["n"].astype("int64")
        pd.testing.assert_frame_equal(g, e)


class TestPipelineAndCheckpoint:
    def test_full_pipeline_writes_sinks(self, spark, gen, tmp_path_factory):
        pdf, raw = gen
        out = str(tmp_path_factory.mktemp("out"))
        io = ParquetIO(out)
        res = run_pipeline(spark, raw, io, PipelineConfig(fmt=FORMAT_COMBINED, num_partitions=8),
                           source_dim=spark.createDataFrame(source_meta_frame()))
        assert res.rows_in == len(pdf)
        assert res.rows_err > 0 and res.rows_ok + res.rows_err == res.rows_in
        back = io.read(spark, "events")
        assert back.count() == len(pdf)
        assert set(r["sink"] for r in back.select("sink").distinct().collect()) == set(res.sink_rows)

    def test_checkpoint_resume_equivalence(self, spark, gen, tmp_path_factory):
        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt"))
        cfg = PipelineConfig(fmt=FORMAT_COMBINED)
        dims = spark.createDataFrame(source_meta_frame())

        # Uninterrupted reference run.
        io_a = ParquetIO(os.path.join(base, "a"))
        run_checkpointed(spark, raw, io_a, os.path.join(base, "ckpt_a"), cfg, n_chunks=4, source_dim=dims)

        # Killed-after-2-chunks run, then resumed.
        io_b = ParquetIO(os.path.join(base, "b"))
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, raw, io_b, os.path.join(base, "ckpt_b"), cfg,
                             n_chunks=4, source_dim=dims, fail_after=2)
        manifest = run_checkpointed(spark, raw, io_b, os.path.join(base, "ckpt_b"), cfg,
                                    n_chunks=4, source_dim=dims)
        assert sum(1 for c in manifest["chunks"].values() if c["status"] == "complete") == 4
        assert all("hash_sum" in c["input"] for c in manifest["chunks"].values())

        # Sink-for-sink equality (FIXTURES §3.5).
        key = ["doc_id"]
        a = io_a.read(spark, "events").select("doc_id", "sink", "status_code").toPandas().sort_values(key).reset_index(drop=True)
        b = io_b.read(spark, "events").select("doc_id", "sink", "status_code").toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

        fa = final_counts(spark, io_a).toPandas()
        fb = final_counts(spark, io_b).toPandas()
        k = ["sink", "bucket", "status_class", "method", "source"]
        pd.testing.assert_frame_equal(
            fa.sort_values(k).reset_index(drop=True), fb[fa.columns].sort_values(k).reset_index(drop=True)
        )


class TestIOResolution:
    def test_resolves_parquet_without_iceberg_catalog(self, spark, tmp_path_factory):
        from redeye_spark.sources.io import ParquetIO, resolve_io

        io = resolve_io(spark, str(tmp_path_factory.mktemp("io")))
        assert isinstance(io, ParquetIO)

    def test_manifest_carries_per_partition_metrics(self, spark, gen, tmp_path_factory):
        from redeye_spark.plans.checkpoint import run_checkpointed
        from redeye_spark.plans.pipeline import PipelineConfig

        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_m"))
        m = run_checkpointed(spark, raw, ParquetIO(base + "/out"), base + "/ck",
                             PipelineConfig(fmt=FORMAT_COMBINED), n_chunks=2)
        for c in m["chunks"].values():
            assert c["partitions"], c
            assert sum(p["rows"] for p in c["partitions"]) == c["rows_in"]
            assert sum(p["err"] for p in c["partitions"]) == c["rows_err"]


class TestCheckpointScale:
    def test_fingerprints_single_pass(self, spark, gen, tmp_path_factory, monkeypatch):
        """Lineage fingerprints for all chunks must come from ONE groupBy
        job, not one filtered scan per chunk."""
        import redeye_spark.plans.checkpoint as ck

        calls = []
        real = ck.input_fingerprints

        def counting(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(ck, "input_fingerprints", counting)
        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_1p"))
        m = ck.run_checkpointed(spark, raw, ParquetIO(base + "/out"), base + "/ck",
                                PipelineConfig(fmt=FORMAT_COMBINED), n_chunks=4)
        assert len(calls) == 1
        # fingerprints cover every chunk and sum to the input row count
        assert sum(c["input"]["rows"] for c in m["chunks"].values()) == len(pdf)

    def test_chunk_by_filter_pushes_down(self, spark, gen, tmp_path_factory):
        """Partition-column chunking must produce an In filter that
        reaches the parquet scan (PushedFilters) — the 100 TB chunk mode
        where a chunk reads only its own files."""
        import re as _re

        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_pd"))
        raw.write.mode("overwrite").parquet(base + "/raw")
        disk = spark.read.parquet(base + "/raw")
        from redeye_spark.plans.checkpoint import chunk_values

        values = chunk_values(disk, "source", 3)
        part = disk.filter(F.col("source").isin(values[0]))
        plan = part._sc._jvm.PythonSQLUtils.explainString(
            part._jdf.queryExecution(), "formatted")
        assert _re.search(r"PushedFilters: \[[^\]]*In\(source", plan), plan

    def test_chunk_by_resume_equivalence(self, spark, gen, tmp_path_factory):
        """chunk_by mode: killed-and-resumed run produces sinks identical
        to an uninterrupted hash-chunked run."""
        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_cb"))
        cfg = PipelineConfig(fmt=FORMAT_COMBINED)

        io_a = ParquetIO(os.path.join(base, "a"))
        run_checkpointed(spark, raw, io_a, os.path.join(base, "ckpt_a"), cfg, n_chunks=3)

        io_b = ParquetIO(os.path.join(base, "b"))
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, raw, io_b, os.path.join(base, "ckpt_b"), cfg,
                             n_chunks=3, chunk_by="source", fail_after=1)
        m = run_checkpointed(spark, raw, io_b, os.path.join(base, "ckpt_b"), cfg,
                             n_chunks=3, chunk_by="source")
        assert sum(1 for c in m["chunks"].values() if c["status"] == "complete") == 3
        assert all(c["chunk_values"] for c in m["chunks"].values())

        key = ["doc_id"]
        a = io_a.read(spark, "events").select("doc_id", "sink", "status_code") \
            .toPandas().sort_values(key).reset_index(drop=True)
        b = io_b.read(spark, "events").select("doc_id", "sink", "status_code") \
            .toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    def test_chunk_mode_mismatch_rejected(self, spark, gen, tmp_path_factory):
        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_mm"))
        io = ParquetIO(base + "/out")
        run_checkpointed(spark, raw, io, base + "/ck",
                         PipelineConfig(fmt=FORMAT_COMBINED), n_chunks=2)
        with pytest.raises(ValueError, match="chunk_by"):
            run_checkpointed(spark, raw, io, base + "/ck",
                             PipelineConfig(fmt=FORMAT_COMBINED), n_chunks=2,
                             chunk_by="source")

    def test_chunk_by_resume_reuses_assignment_and_rejects_new_values(
            self, spark, gen, tmp_path_factory):
        """The value->chunk assignment is persisted at first run; a
        resume reuses it verbatim, and input rows with values outside the
        assignment fail LOUDLY instead of being silently uncovered."""
        import redeye_spark.plans.checkpoint as ck

        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_asg"))
        io = ParquetIO(base + "/out")
        cfg = PipelineConfig(fmt=FORMAT_COMBINED)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, raw, io, base + "/ck", cfg,
                             n_chunks=3, chunk_by="source", fail_after=1)
        m = ck.load_manifest(base + "/ck")
        assert m.get("chunk_assignment")
        # resumed input sprouts a new source value -> loud error
        mutated = raw.withColumn(
            "source",
            F.when(F.col("doc_id").startswith("doc-1"), F.lit("brand-new-src"))
            .otherwise(F.col("source")),
        )
        with pytest.raises(ValueError, match="chunk assignment"):
            run_checkpointed(spark, mutated, io, base + "/ck", cfg,
                             n_chunks=3, chunk_by="source")
        # unchanged input resumes fine using the stored assignment
        m2 = run_checkpointed(spark, raw, io, base + "/ck", cfg,
                              n_chunks=3, chunk_by="source")
        assert sum(1 for c in m2["chunks"].values() if c["status"] == "complete") == 3

    def test_legacy_manifest_without_chunk_by_is_hash_mode(
            self, spark, gen, tmp_path_factory):
        """Pre-chunk_by manifests must be treated as hash-chunked: a
        chunk_by resume against one is rejected, not silently accepted."""
        import json as _json
        import redeye_spark.plans.checkpoint as ck

        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_leg"))
        io = ParquetIO(base + "/out")
        cfg = PipelineConfig(fmt=FORMAT_COMBINED)
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, raw, io, base + "/ck", cfg,
                             n_chunks=2, fail_after=1)
        mp = os.path.join(base, "ck", "manifest.json")
        m = _json.load(open(mp))
        m.pop("chunk_by", None)  # simulate a round-1 manifest
        _json.dump(m, open(mp, "w"))
        with pytest.raises(ValueError, match="chunk_by"):
            run_checkpointed(spark, raw, io, base + "/ck", cfg,
                             n_chunks=2, chunk_by="source")

    def test_chunk_by_null_values_are_covered(self, spark):
        """A NULL partition value is assigned to a chunk and its chunk's
        predicate matches it (isin alone never matches NULL) — every row
        is covered by exactly one chunk. (The pipeline's own `source`
        column is non-nullable by the input contract; this covers
        chunk_by over general nullable partition columns.)"""
        from redeye_spark.plans.checkpoint import chunk_values, _chunk_predicate

        df = spark.createDataFrame(
            [(i, None if i % 7 == 0 else f"s{i % 5}") for i in range(200)],
            "doc_id long, part string",
        )
        values = chunk_values(df, "part", 3)
        assert any(None in vs for vs in values.values())
        covered = 0
        for c, vs in values.items():
            covered += df.filter(_chunk_predicate("part", vs)).count()
        assert covered == 200

    def test_chunk_by_high_cardinality_refused(self, spark):
        """chunk_by over a non-partition column (doc_id) must refuse with
        a clear error instead of collecting the full distinct set to the
        driver — the collect itself is bounded at max_values+1 rows."""
        from redeye_spark.plans.checkpoint import chunk_values

        df = spark.range(500).select(
            F.col("id").alias("doc_id"), F.col("id").cast("string").alias("k")
        )
        with pytest.raises(ValueError, match="distinct values"):
            chunk_values(df, "k", 4, max_values=100)

    def test_resume_over_changed_input_raises(self, spark, gen, tmp_path_factory):
        """Hash-mode resume must fail loudly when a COMPLETED chunk's
        input fingerprint no longer matches the manifest (stale sink
        data), mirroring chunk_by mode's unknown-value failure."""
        from redeye_spark.plans.checkpoint import chunk_column

        pdf, raw = gen
        base = str(tmp_path_factory.mktemp("ckpt_stale"))
        cfg = PipelineConfig(fmt=FORMAT_COMBINED)
        io = ParquetIO(base + "/out")
        with pytest.raises(RuntimeError, match="injected failure"):
            run_checkpointed(spark, raw, io, base + "/ck", cfg,
                             n_chunks=4, fail_after=2)
        changed = raw.filter(chunk_column(4) != 0)  # mutates chunk 0's input
        with pytest.raises(ValueError, match="input changed under completed chunk"):
            run_checkpointed(spark, changed, io, base + "/ck", cfg, n_chunks=4)


class TestOrcIO:
    def test_orc_roundtrip_and_partitioned_fanout(self, spark, tmp_path):
        """The ORC flavor honors the same TableIO contract: partitioned
        fan-out write, dynamic-partition overwrite, identical rows."""
        from pyspark.sql import functions as F

        from redeye_spark.sources.io import OrcIO

        io = OrcIO(str(tmp_path))
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 3).cast("string").alias("sink")
        )
        io.write(df, "events", partition_by=["sink"])
        back = io.read(spark, "events")
        assert back.count() == 100
        assert back.filter(F.col("sink") == "1").count() == 33
        # dynamic partition overwrite replaces only the written partition
        patch = spark.range(5).select(F.col("id") + 1000, F.lit("1").alias("sink")) \
            .toDF("id", "sink")
        io.write(patch, "events", mode="overwrite_partitions", partition_by=["sink"])
        back2 = io.read(spark, "events")
        assert back2.filter(F.col("sink") == "1").count() == 5
        assert back2.filter(F.col("sink") == "0").count() == \
            df.filter(F.col("sink") == "0").count()


class TestObserveCounterContract:
    def test_zero_count_routes_omitted_and_null_sinks_counted(self, spark, tmp_path):
        """sink_rows must list only sinks PRESENT in the written data
        (a configured route matching zero rows is omitted), and rows a
        non-total route list leaves sink=NULL must still count toward
        rows_in under None — same contract the agg-table groupBy gave."""
        from redeye_spark.operators.route import Route
        from redeye_spark.plans.pipeline import PipelineConfig, run_pipeline
        from redeye_spark.schema import RAW_SEQUENCES
        from redeye_spark.sources.datagen import gen_frame
        from redeye_spark.sources.io import ParquetIO

        pdf = gen_frame(500, fmt="combined", seed=21, malformed_rate=0.0)
        raw = spark.createDataFrame(pdf.drop(columns=["line"]), schema=RAW_SEQUENCES)
        cfg = PipelineConfig(
            fmt="combined",
            routes=[
                Route("dead_letter", "error_kind IS NOT NULL"),  # 0 rows here
                Route("sink_2xx", "status_code BETWEEN 200 AND 299"),
                # NOT total: 3xx/4xx/5xx/None-status rows get sink=NULL
            ],
        )
        res = run_pipeline(spark, raw, ParquetIO(str(tmp_path)), cfg)
        assert "dead_letter" not in res.sink_rows          # zero-count omitted
        assert None in res.sink_rows                       # NULL sinks counted
        assert res.rows_in == 500                          # nothing vanished
        assert res.sink_rows["sink_2xx"] + res.sink_rows[None] == 500


class TestColumnarSourceFastPath:
    """parse_sequence_files (the pyarrow-reads-its-own-files parse) must
    be row-identical to scan -> parse_sequences, and the build_tagged
    detection must only fire on bare local parquet scans of the input
    shape."""

    @pytest.fixture(scope="class")
    def corpus_dir(self, tmp_path_factory):
        from redeye_spark.sources.datagen import write_input_table

        d = str(tmp_path_factory.mktemp("fastpath") / "corpus")
        write_input_table(d, 2000, fmt=FORMAT_COMBINED, seed=13, chunk=500)
        return d

    @pytest.fixture(scope="class")
    def small_files(self, tmp_path_factory):
        from redeye_spark.sources.datagen import write_input_table

        # Spark lists this directory as the URI ".../small%20files%20100%25"
        d = str(tmp_path_factory.mktemp("fastpath") / "small files 100%")
        write_input_table(d, 2400, fmt=FORMAT_COMBINED, seed=17, chunk=200)
        return d

    def test_detection_fires_on_bare_scan_only(self, spark, corpus_dir, gen):
        raw = spark.read.parquet(corpus_dir)
        files = parse_op.parquet_scan_files(raw)
        assert files and len(files) == 4 and all(f.endswith(".parquet") for f in files)
        # filtered scan, projected scan, in-memory frame: all fall back
        assert parse_op.parquet_scan_files(raw.filter("n_tok > 0")) is None
        assert parse_op.parquet_scan_files(raw.select("doc_id", "tokens")) is None
        _, mem = gen
        assert parse_op.parquet_scan_files(mem) is None

    @pytest.mark.parametrize("carry", [False, True])
    def test_rows_identical_to_general_path(self, spark, corpus_dir, small_files, carry):
        # 4 files of 500 rows (a task each) and 12 of 200 (packed 3 to a task)
        for corpus in (corpus_dir, small_files):
            raw = spark.read.parquet(corpus)
            general = parse_op.parse_sequences(
                raw, fmt=FORMAT_COMBINED, carry_tokens=carry
            ).toPandas()
            fast = parse_op.parse_sequence_files(
                spark, parse_op.parquet_scan_files(raw),
                fmt=FORMAT_COMBINED, carry_tokens=carry,
            ).toPandas()
            assert fast["doc_id"].is_unique
            for df in (general, fast):
                if carry:
                    df["tokens"] = df["tokens"].map(tuple)
            g = general.sort_values("doc_id").reset_index(drop=True)
            f = fast.sort_values("doc_id").reset_index(drop=True)
            pd.testing.assert_frame_equal(g, f)

    def test_build_tagged_uses_fast_path_for_parquet_scan(self, spark, corpus_dir):
        from redeye_spark.plans.pipeline import PipelineConfig, build_tagged

        raw = spark.read.parquet(corpus_dir)
        plan = build_tagged(
            spark, raw, PipelineConfig(fmt=FORMAT_COMBINED, num_partitions=None)
        )._jdf.queryExecution().executedPlan().toString()
        # fast path: no parquet Scan feeding MapInArrow — the paths
        # relation replaces it
        assert "Scan parquet" not in plan, plan

    def test_small_files_pack_into_tasks_by_the_split_rule(self, spark, small_files, tmp_path):
        """12 small files are packed by Spark's split rule into at most one
        task per core, each read once; a file over the split cap is a task
        of its own; the packed tasks' counts still cover every row."""
        files = parse_op.parquet_scan_files(spark.read.parquet(small_files))
        assert len(files) == 12
        tasks = parse_op.file_tasks(spark, files)
        assert len(tasks) <= spark.sparkContext.defaultParallelism
        assert sorted(f for t in tasks for f in t) == sorted(files)
        assert parse_op.parquet_files(spark, files)[0].rdd.getNumPartitions() == len(tasks)

        key = "spark.sql.files.maxPartitionBytes"
        spark.conf.set(key, str(min(os.path.getsize(f) for f in files) - 1))
        try:
            assert sorted(parse_op.file_tasks(spark, files)) == sorted([f] for f in files)
            assert parse_op.parquet_files(spark, files)[0].rdd.getNumPartitions() == len(files)
        finally:
            spark.conf.unset(key)

        res = run_pipeline(
            spark, spark.read.parquet(small_files), ParquetIO(str(tmp_path)),
            PipelineConfig(fmt=FORMAT_COMBINED),
        )
        assert (res.parse_path, res.rows_in) == ("parquet_files", 2400)
        assert len(res.partitions) <= spark.sparkContext.defaultParallelism
        assert sum(p["rows"] for p in res.partitions) == res.rows_in
