"""Small-file compaction (plans/maintenance.py): rows/schema/partition
layout preserved, file counts actually shrink, no-op guard, crash
safety via the swap protocol."""

import os

import pytest
from pyspark.sql import functions as F

from redeye_spark.plans import maintenance
from redeye_spark.sources.io import ParquetIO


@pytest.fixture()
def io(tmp_path):
    return ParquetIO(str(tmp_path))


def _fragmented(spark, io, table, n_files=24, partition_by=None):
    df = spark.range(3000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    io.write(df.repartition(n_files), table, partition_by=partition_by)
    return df


class TestCompaction:
    def test_shrinks_files_preserves_rows(self, spark, io):
        _fragmented(spark, io, "t")
        before, _ = maintenance.table_file_stats(io, "t")
        assert before >= 24
        stats = maintenance.compact_table(spark, io, "t", target_file_bytes=1 << 30)
        assert stats["rewritten"] and stats["files_after"] < before
        assert stats["files_after"] == 1  # everything fits one target file
        got = io.read(spark, "t")
        assert got.count() == 3000
        assert got.agg(F.sum("id")).collect()[0][0] == sum(range(3000))

    def test_partition_layout_preserved(self, spark, io):
        _fragmented(spark, io, "p", partition_by=["part"])
        stats = maintenance.compact_table(
            spark, io, "p", target_file_bytes=1 << 30, partition_by=["part"]
        )
        assert stats["rewritten"]
        root = io.location("p")
        parts = {d for d in os.listdir(root) if d.startswith("part=")}
        assert parts == {"part=0", "part=1", "part=2"}
        got = io.read(spark, "p")
        assert got.count() == 3000
        # partition pruning still works on the compacted layout
        assert got.filter(F.col("part") == "1").count() == 1000

    def test_noop_below_threshold(self, spark, io):
        df = spark.range(10)
        io.write(df.coalesce(1), "small")
        stats = maintenance.compact_table(spark, io, "small")
        assert stats["rewritten"] is False
        assert io.read(spark, "small").count() == 10

    def test_no_leftover_temp_dirs(self, spark, io):
        _fragmented(spark, io, "t2")
        maintenance.compact_table(spark, io, "t2", target_file_bytes=1 << 30)
        leftovers = [d for d in os.listdir(io.base_dir)
                     if "__compacting" in d or "__precompact" in d]
        assert leftovers == []

    def test_target_size_splits_output(self, spark, io):
        _fragmented(spark, io, "t3")
        _, total = maintenance.table_file_stats(io, "t3")
        stats = maintenance.compact_table(
            spark, io, "t3", target_file_bytes=max(1, total // 4)
        )
        assert stats["rewritten"]
        assert 2 <= stats["files_after"] <= 8  # ~4 target files, repartition exact


class TestCompactionReviewRegressions:
    def test_recovers_from_crash_between_renames(self, spark, io):
        """A kill between the two swap renames parks the table at
        __precompact; the next run must restore it, not no-op."""
        _fragmented(spark, io, "c")
        os.rename(io.location("c"), io.location("c__precompact"))
        stats = maintenance.compact_table(spark, io, "c", target_file_bytes=1 << 30)
        assert stats["rewritten"] and os.path.isdir(io.location("c"))
        assert io.read(spark, "c").count() == 3000

    def test_partitioned_compaction_respects_size_target(self, spark, io):
        """One hot partition must split into ~target-size files, not
        collapse onto a single task/file."""
        _fragmented(spark, io, "hot", partition_by=["part"])
        _, total = maintenance.table_file_stats(io, "hot")
        stats = maintenance.compact_table(
            spark, io, "hot", target_file_bytes=max(1, total // 12),
            partition_by=["part"],
        )
        assert stats["rewritten"]
        # 3 partitions x >1 file each: the salt actually split them
        per_part = {}
        for d in os.listdir(io.location("hot")):
            if d.startswith("part="):
                per_part[d] = sum(
                    1 for f in os.listdir(os.path.join(io.location("hot"), d))
                    if f.endswith(".parquet"))
        assert all(v >= 2 for v in per_part.values()), per_part
        assert io.read(spark, "hot").count() == 3000

    def test_iceberg_io_rejected(self, spark):
        from redeye_spark.sources.io import IcebergIO

        with pytest.raises(TypeError, match="rewrite_data_files"):
            maintenance.compact_table(spark, IcebergIO("cat"), "t")

    def test_orc_tables_compact_too(self, spark, tmp_path):
        """table_file_stats must count the io flavor's own extension —
        .parquet-only counting made ORC compaction a silent no-op."""
        from redeye_spark.sources.io import OrcIO

        io = OrcIO(str(tmp_path))
        df = spark.range(2000).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("payload"))
        io.write(df.repartition(12), "t")
        before, total = maintenance.table_file_stats(io, "t")
        assert before >= 12 and total > 0
        stats = maintenance.compact_table(spark, io, "t", target_file_bytes=1 << 30)
        assert stats["rewritten"] and stats["files_after"] == 1
        assert io.read(spark, "t").count() == 2000


class TestClusteredCompaction:
    def test_cluster_by_produces_disjoint_file_ranges(self, spark, tmp_path):
        """cluster_by on an unpartitioned table must range-partition +
        sort the rewrite so each output file owns a disjoint value
        range of the key — asserted from the REAL parquet footers, the
        stats a selective scan prunes on. The timestamp key holds only
        if timestamps are written with statistics (INT64, not INT96)."""
        import os

        import pyarrow.parquet as pq

        from redeye_spark.plans.maintenance import compact_table
        from redeye_spark.sources.io import ParquetIO

        for name, key in (("long", "id % 1000"), ("timestamp", "timestamp_seconds(id % 1000)")):
            io = ParquetIO(str(tmp_path / name))
            # 12 small files of interleaved keys: every file spans the whole
            # key range, so before compaction NO file is prunable
            df = spark.range(12_000).selectExpr(
                f"{key} AS k", "id AS v"
            ).repartition(12)
            io.write(df, "t", mode="overwrite")
            stats = compact_table(
                spark, io, "t", target_file_bytes=20_000, cluster_by=["k"]
            )
            assert stats["rewritten"] and stats["files_after"] > 1

            ranges = []
            root = io.location("t")
            for f in sorted(os.listdir(root)):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(0).statistics
                    assert st is not None and st.has_min_max, (name, f)
                    mins.append(st.min); maxs.append(st.max)
                ranges.append((min(mins), max(maxs)))
            ranges.sort()
            for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
                assert lo2 >= hi1, f"overlapping {name} file ranges {ranges}"
            # rows preserved
            assert io.read(spark, "t").count() == 12_000

    def test_cluster_by_with_partitions_sorts_within(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import compact_table
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        df = spark.range(4000).selectExpr(
            "CAST(id % 3 AS STRING) AS p", "id % 500 AS k", "id AS v"
        ).repartition(8)
        io.write(df, "t", mode="overwrite", partition_by=["p"])
        stats = compact_table(
            spark, io, "t", target_file_bytes=10_000,
            partition_by=["p"], cluster_by=["k"],
        )
        assert stats["rewritten"]
        got = io.read(spark, "t")
        assert got.count() == 4000
        assert got.filter("p = '1'").count() == 1333  # pruning intact


class TestUpsert:
    def _io(self, tmp_path):
        from redeye_spark.sources.io import ParquetIO
        return ParquetIO(str(tmp_path))

    def test_unpartitioned_latest_wins(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"), "t")
        st = upsert_table(
            spark, io, "t",
            spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
            key_cols=["k"])
        assert st["rows_upserted"] == 2 and not st["created"]
        got = {r["k"]: r["v"] for r in io.read(spark, "t").collect()}
        assert got == {1: "a", 2: "B", 3: "c", 4: "d"}

    def test_partitioned_rewrites_only_touched_partitions(self, spark, tmp_path):
        import os
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        base = spark.createDataFrame(
            [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c")],
            "p string, k long, v string")
        io.write(base, "t", partition_by=["p"])
        d2_files = sorted(os.listdir(io.location("t") + "/p=d2"))
        d2_mtimes = [os.path.getmtime(io.location("t") + "/p=d2/" + f)
                     for f in d2_files]

        st = upsert_table(
            spark, io, "t",
            spark.createDataFrame([("d1", 2, "B"), ("d1", 9, "z")],
                                  "p string, k long, v string"),
            key_cols=["p", "k"], partition_by=["p"])
        assert st["partitions_touched"] == 1
        got = {(r["p"], r["k"]): r["v"] for r in io.read(spark, "t").collect()}
        assert got == {("d1", 1): "a", ("d1", 2): "B", ("d1", 9): "z",
                       ("d2", 3): "c"}
        # untouched partition's files are bit-for-bit untouched
        assert sorted(os.listdir(io.location("t") + "/p=d2")) == d2_files
        assert [os.path.getmtime(io.location("t") + "/p=d2/" + f)
                for f in d2_files] == d2_mtimes

    def test_order_col_picks_latest_version(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        io.write(spark.createDataFrame([(1, "a", 0)], "k long, v string, ver long"), "t")
        upsert_table(
            spark, io, "t",
            spark.createDataFrame([(1, "v1", 1), (1, "v2", 2), (2, "x", 1)],
                                  "k long, v string, ver long"),
            key_cols=["k"], order_col="ver")
        got = {r["k"]: r["v"] for r in io.read(spark, "t").collect()}
        assert got == {1: "v2", 2: "x"}

    def test_ambiguous_updates_rejected(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        io.write(spark.createDataFrame([(1, "a")], "k long, v string"), "t")
        with pytest.raises(ValueError, match="order_col"):
            upsert_table(spark, io, "t",
                         spark.createDataFrame([(1, "x"), (1, "y")],
                                               "k long, v string"),
                         key_cols=["k"])

    def test_partition_moving_keys_refused(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        df = spark.createDataFrame([("d1", 1, "a")], "p string, k long, v string")
        io.write(df, "t", partition_by=["p"])
        with pytest.raises(ValueError, match="subset"):
            upsert_table(spark, io, "t", df, key_cols=["k"], partition_by=["p"])

    def test_creates_missing_table(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import upsert_table

        io = self._io(tmp_path)
        st = upsert_table(spark, io, "t",
                          spark.createDataFrame([(1, "a")], "k long, v string"),
                          key_cols=["k"])
        assert st["created"] and io.read(spark, "t").count() == 1


class TestUpsertReviewRegressions:
    def test_recovers_from_crash_between_swap_renames(self, spark, tmp_path):
        """A kill inside the unpartitioned swap window parks the table
        at __precompact; a re-run must restore it FIRST — otherwise it
        would 'create' a table holding only the updates and drop every
        pre-existing row."""
        from redeye_spark.plans.maintenance import upsert_table
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        io.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), "t")
        import os
        os.rename(io.location("t"), io.location("t__precompact"))
        st = upsert_table(spark, io, "t",
                          spark.createDataFrame([(2, "B")], "k long, v string"),
                          key_cols=["k"])
        assert not st["created"]
        got = {r["k"]: r["v"] for r in io.read(spark, "t").collect()}
        assert got == {1: "a", 2: "B"}

    def test_null_keys_rejected(self, spark, tmp_path):
        """NULL keys never equi-join: a NULL-keyed update would append a
        duplicate, and a NULL partition value would make dynamic
        overwrite drop that partition's unmatched rows."""
        from redeye_spark.plans.maintenance import upsert_table
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        io.write(spark.createDataFrame([("d1", 1, "a")], "p string, k long, v string"),
                 "t", partition_by=["p"])
        with pytest.raises(ValueError, match="NULL"):
            upsert_table(spark, io, "t",
                         spark.createDataFrame([(None, 2, "x")],
                                               "p string, k long, v string"),
                         key_cols=["p", "k"], partition_by=["p"])


class TestRetentionAndDelete:
    def _io(self, tmp_path):
        from redeye_spark.sources.io import ParquetIO
        return ParquetIO(str(tmp_path))

    def test_expire_partitions_drop_and_keep(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import expire_partitions

        io = self._io(tmp_path)
        df = spark.createDataFrame(
            [("d1", 1), ("d2", 2), ("d3", 3)], "day string, v long")
        io.write(df, "t", partition_by=["day"])
        st = expire_partitions(io, "t", "day", drop_values=["d1"])
        assert st["dropped"] == ["d1"] and sorted(st["kept"]) == ["d2", "d3"]
        assert io.read(spark, "t").count() == 2
        st2 = expire_partitions(io, "t", "day", keep_values=["d3"])
        assert st2["dropped"] == ["d2"]
        assert {r["day"] for r in io.read(spark, "t").collect()} == {"d3"}
        with pytest.raises(ValueError, match="exactly one"):
            expire_partitions(io, "t", "day")
        with pytest.raises(ValueError, match="partition dirs"):
            expire_partitions(io, "t", "nope", drop_values=["x"])

    def test_delete_keys_partition_scoped(self, spark, tmp_path):
        import os
        from redeye_spark.plans.maintenance import delete_keys

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c")],
            "p string, k long, v string"), "t", partition_by=["p"])
        d2_files = sorted(os.listdir(io.location("t") + "/p=d2"))
        st = delete_keys(spark, io, "t",
                         spark.createDataFrame([("d1", 2)], "p string, k long"),
                         key_cols=["p", "k"], partition_by=["p"])
        assert st["scope"] == "partitions" and st["keys_requested"] == 1
        got = {(r["p"], r["k"]) for r in io.read(spark, "t").collect()}
        assert got == {("d1", 1), ("d2", 3)}
        assert sorted(os.listdir(io.location("t") + "/p=d2")) == d2_files

    def test_delete_keys_removes_fully_emptied_partition(self, spark, tmp_path):
        """Deleting EVERY row of a partition must remove its directory —
        dynamic overwrite alone would leave the old files (and the
        'deleted' rows) behind."""
        import os
        from redeye_spark.plans.maintenance import delete_keys

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [("d1", 1, "a"), ("d2", 2, "b")], "p string, k long, v string"),
            "t", partition_by=["p"])
        delete_keys(spark, io, "t",
                    spark.createDataFrame([("d1", 1)], "p string, k long"),
                    key_cols=["p", "k"], partition_by=["p"])
        assert not os.path.isdir(io.location("t") + "/p=d1")
        assert {r["k"] for r in io.read(spark, "t").collect()} == {2}

    def test_delete_keys_whole_table_and_null_rejection(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import delete_keys

        io = self._io(tmp_path)
        io.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), "t")
        st = delete_keys(spark, io, "t",
                         spark.createDataFrame([(1,)], "k long"), key_cols=["k"])
        assert st["scope"] == "table"
        assert {r["k"] for r in io.read(spark, "t").collect()} == {2}
        with pytest.raises(ValueError, match="NULL"):
            delete_keys(spark, io, "t",
                        spark.createDataFrame([(None,)], "k long"), key_cols=["k"])

    def test_delete_keys_removes_hive_escaped_empty_partition(self, spark, tmp_path):
        """r4 ADVICE-high regression: Spark hive-escapes special chars in
        partition dir names ('2024:01' -> 'p=2024%3A01'); the emptied-dir
        cleanup must match the REAL listing, not an f-string guess, and
        the read-back verifier must prove the rows are gone."""
        import os
        from redeye_spark.plans.maintenance import delete_keys

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [("2024:01", 1, "a"), ("2024:02", 2, "b")],
            "p string, k long, v string"), "t", partition_by=["p"])
        assert os.path.isdir(io.location("t") + "/p=2024%3A01")  # escaped layout
        st = delete_keys(spark, io, "t",
                         spark.createDataFrame([("2024:01", 1)], "p string, k long"),
                         key_cols=["p", "k"], partition_by=["p"])
        assert st["scope"] == "partitions"
        assert not os.path.isdir(io.location("t") + "/p=2024%3A01")
        assert {r["p"] for r in io.read(spark, "t").collect()} == {"2024:02"}

    def test_expire_partitions_hive_escaped_values(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import expire_partitions

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [("2024:01", 1), ("2024:02", 2)], "day string, v long"),
            "t", partition_by=["day"])
        st = expire_partitions(io, "t", "day", drop_values=["2024:01"])
        assert st["dropped"] == ["2024:01"] and st["failed"] == []
        assert {r["day"] for r in io.read(spark, "t").collect()} == {"2024:02"}

    def test_delete_keys_touched_partition_cap(self, spark, tmp_path):
        from redeye_spark.plans.maintenance import delete_keys

        io = self._io(tmp_path)
        io.write(spark.createDataFrame(
            [(f"d{i}", i, "x") for i in range(5)], "p string, k long, v string"),
            "t", partition_by=["p"])
        with pytest.raises(ValueError, match="touch >"):
            delete_keys(spark, io, "t",
                        spark.createDataFrame([(f"d{i}", i) for i in range(5)],
                                              "p string, k long"),
                        key_cols=["p", "k"], partition_by=["p"],
                        max_touched_partitions=3)


class TestMaintenanceLock:
    def test_live_lock_refuses_concurrent_op(self, spark, tmp_path):
        import os
        from redeye_spark.plans.maintenance import compact_table
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        io.write(spark.range(10).repartition(4), "t")
        lock = io.location("t") + ".__maintenance_lock"
        with open(lock, "w") as f:
            f.write(str(os.getpid()))  # a LIVE holder
        with pytest.raises(RuntimeError, match="under maintenance"):
            compact_table(spark, io, "t", min_files_to_compact=1)
        os.unlink(lock)

    def test_stale_lock_is_stolen_and_released(self, spark, tmp_path):
        import os
        from redeye_spark.plans.maintenance import compact_table
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        io.write(spark.range(10).repartition(4), "t")
        lock = io.location("t") + ".__maintenance_lock"
        with open(lock, "w") as f:
            f.write("999999999")  # dead pid -> stale, must be stolen
        st = compact_table(spark, io, "t", min_files_to_compact=1)
        assert st["rewritten"] is True
        assert not os.path.exists(lock)  # released on exit

    def test_delete_emptying_whole_table_succeeds(self, spark, tmp_path):
        """r5 review: deleting EVERY row (all partitions emptied) must
        report success, not crash the read-back verifier on an empty
        directory's schema inference."""
        from redeye_spark.plans.maintenance import delete_keys
        from redeye_spark.sources.io import ParquetIO

        io = ParquetIO(str(tmp_path))
        io.write(spark.createDataFrame(
            [("d1", 1, "a"), ("d1", 2, "b")], "p string, k long, v string"),
            "t", partition_by=["p"])
        st = delete_keys(spark, io, "t",
                         spark.createDataFrame([("d1", 1), ("d1", 2)],
                                               "p string, k long"),
                         key_cols=["p", "k"], partition_by=["p"])
        assert st["scope"] == "partitions"
        import os
        assert not os.path.isdir(io.location("t") + "/p=d1")
