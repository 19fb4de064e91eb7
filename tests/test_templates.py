"""Log-template mining tests (operators/templates.py): masking rule
order, census semantics, rare-share exact-integer threshold, and the
codegen/broadcast plan shape."""

import pytest
from pyspark.sql import functions as F

from redeye_spark.operators import templates


def _lines(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, source string, line string")


class TestMasking:
    def test_ip_masked_before_numbers(self, spark):
        df = _lines(spark, [("a", "s", "10.1.2.3 hit 42 times")])
        t = df.select(templates.template_expr("line").alias("t")).first()["t"]
        # the IP collapses to ONE token, not four <NUM>s with dots
        assert t == "<IP> hit <NUM> times"

    def test_bracketed_timestamp_masked_whole(self, spark):
        df = _lines(spark, [("a", "s", 'x [18/Aug/2026:10:00:00 +0000] "GET"')])
        t = df.select(templates.template_expr("line").alias("t")).first()["t"]
        assert t == 'x <TS> "GET"'

    def test_embedded_numbers_masked_without_boundaries(self, spark):
        # u17 / svc9 / HTTP/1.1 all carry digits glued to letters
        df = _lines(spark, [("a", "s", "u17 svc9 HTTP/1.1")])
        t = df.select(templates.template_expr("line").alias("t")).first()["t"]
        assert t == "u<NUM> svc<NUM> HTTP/<NUM>.<NUM>"


class TestCensus:
    def test_counts_sources_and_example(self, spark):
        df = _lines(spark, [
            ("a", "s1", "err 1"),
            ("b", "s2", "err 2"),
            ("c", "s1", "ok"),
        ])
        rows = {r["template"]: r for r in
                templates.mine_templates(df).collect()}
        assert rows["err <NUM>"]["n_lines"] == 2
        assert rows["err <NUM>"]["n_sources"] == 2
        assert rows["err <NUM>"]["example"] == "err 1"  # lexicographic min
        assert rows["ok"]["n_lines"] == 1

    def test_partitioning_invariance(self, spark):
        df = _lines(spark, [(str(i), f"s{i % 3}", f"msg {i % 5} of {i}")
                            for i in range(200)])
        a = sorted(map(tuple, templates.mine_templates(df).collect()))
        b = sorted(map(tuple, templates.mine_templates(df.repartition(7)).collect()))
        assert a == b


class TestRare:
    def test_exact_share_boundary(self, spark):
        # 1000 lines: 999 common + 1 rare. max_share=0.001 keeps only
        # templates with n*1000 <= 1000, i.e. exactly n == 1.
        rows = [(str(i), "s", "common msg") for i in range(999)]
        rows.append(("rare", "s", "weird failure"))
        out = templates.rare_template_lines(
            _lines(spark, rows), max_share=0.001).collect()
        assert [(r["doc_id"], r["template"]) for r in out] == [
            ("rare", "weird failure")]

    def test_fractional_share_is_exact(self, spark):
        # 0.001 is not exactly representable in binary; the Fraction
        # conversion must still produce the exact 1/1000 ratio: with
        # 2000 lines, a template of 2 sits ON the boundary (2*1000 ==
        # 2000) and must be INCLUDED (<=).
        rows = [(str(i), "s", "common msg") for i in range(1998)]
        rows += [("r1", "s", "edge case"), ("r2", "s", "edge case")]
        out = templates.rare_template_lines(
            _lines(spark, rows), max_share=0.001).collect()
        assert sorted(r["doc_id"] for r in out) == ["r1", "r2"]

    def test_bad_share_rejected(self, spark):
        df = _lines(spark, [("a", "s", "x")])
        with pytest.raises(ValueError):
            templates.rare_template_lines(df, max_share=0.0)
        with pytest.raises(ValueError):
            templates.rare_template_lines(df, max_share=1.0)


class TestPlanShape:
    def test_census_is_pure_codegen_partial_agg(self, spark):
        from tests.test_plans import plan_of

        df = _lines(spark, [("a", "s1", "msg 1"), ("b", "s2", "msg 2")])
        p = plan_of(templates.mine_templates(df))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # two-phase agg: a partial aggregate precedes the exchange, so
        # the shuffle carries distinct (template, source) rows only.
        # (min(string) has no mutable buffer -> SortAggregate, still
        # map-side partial.)
        assert "partial_count" in p and "Exchange" in p

    def test_rare_join_is_broadcast(self, spark):
        from tests.test_plans import plan_of

        df = _lines(spark, [(str(i), "s", f"m {i % 4}") for i in range(50)])
        p = plan_of(templates.rare_template_lines(df, max_share=0.01))
        assert "BroadcastHashJoin" in p, p
        assert "CartesianProduct" not in p, p


class TestStreamCensus:
    def test_merge_invariant_to_batching(self, spark, tmp_path):
        from redeye_spark.streaming import stream as stream_mod

        rows = [(str(i), f"s{i % 3}", f"GET /api/v{i % 2}/item/{i} ok {i % 7}")
                for i in range(400)]
        df = _lines(spark, rows)
        df.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "in"))

        outs = []
        for mft, tag in ((1, "a"), (2, "b")):
            q = stream_mod.start_template_census_stream(
                spark, str(tmp_path / "in"), str(tmp_path / f"part_{tag}"),
                str(tmp_path / f"ckpt_{tag}"), max_files_per_trigger=mft)
            assert q.awaitTermination(300)
            outs.append(sorted(map(tuple, stream_mod.merge_template_census(
                spark, str(tmp_path / f"part_{tag}")).collect())))
        assert outs[0] == outs[1]
        # and equals the batch operator on the same frame
        batch = sorted(map(tuple, templates.mine_templates(df).collect()))
        assert outs[0] == batch
        # the 1-file run really was incremental: >1 micro-batch appended
        bids = spark.read.parquet(str(tmp_path / "part_a")).select(
            "batch_id").distinct().count()
        assert bids > 1

    def test_replayed_batch_overwrites_its_partials(self, spark, tmp_path):
        from redeye_spark.streaming import stream as stream_mod
        from tests.test_streaming import _forget_last_commit

        rows = [(str(i), f"s{i % 3}", f"GET /api/v{i % 2}/item/{i} ok {i % 7}")
                for i in range(400)]
        _lines(spark, rows).repartition(4).write.parquet(str(tmp_path / "in"))
        src, parts, ckpt = str(tmp_path / "in"), str(tmp_path / "part"), str(tmp_path / "ckpt")
        assert stream_mod.start_template_census_stream(spark, src, parts, ckpt).awaitTermination(300)
        _forget_last_commit(ckpt)
        assert stream_mod.start_template_census_stream(spark, src, parts, ckpt).awaitTermination(300)
        census = stream_mod.merge_template_census(spark, parts)
        assert census.agg(F.sum("n_lines")).collect()[0][0] == 400
