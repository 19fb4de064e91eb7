"""Session sizing from the host: the default heap fits the machine, a
requested heap that does not fit is refused before any JVM starts, and
spill goes where Spark puts it, not into RAM."""

import pytest
from pyspark.sql import SparkSession

from redeye_spark import session


def test_memory_sizes_parse_like_the_jvm():
    assert session.parse_memory("3g") == 3 << 30
    assert session.parse_memory("512m") == 512 << 20
    assert session.parse_memory("1024K") == 1 << 20
    assert session.parse_memory("2gb") == 2 << 30
    assert session.parse_memory("4096") == 4096


def test_local_threads_of_a_master():
    assert session._local_threads("local") == 1
    assert session._local_threads("local[4]") == 4
    assert session._local_threads("local[8, 2]") == 8
    assert session._local_threads("local[*]") == session.host_cores()
    assert session._local_threads("yarn") is None


def test_default_heap_fits_next_to_the_workers():
    ram = session.host_memory_bytes()
    assert ram and ram > 0
    for workers in (1, 4, session.host_cores()):
        heap = session.parse_memory(session.default_driver_memory(ram, workers))
        assert heap >= 1 << 30
        assert heap + workers * session.PY_WORKER_BYTES <= ram or heap == 1 << 30
    assert session.default_driver_memory(16 << 30, 4) == "4g"
    assert session.default_driver_memory(None, 4) == "4g"


def test_a_heap_larger_than_ram_is_refused(monkeypatch):
    ram_gib = session.host_memory_bytes() >> 30
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", f"{2 * ram_gib + 2}g")
    with pytest.raises(ValueError, match="does not fit in this host's"):
        session.get_spark("too-big", master="local[1]")


def test_spill_is_not_put_in_ram(monkeypatch):
    """get_spark sets no spark.local.dir of its own (spill on a tmpfs
    lands in the RAM the heap check never counts); an explicit one still
    wins. The sink format (zstd level 6, INT64 timestamps) is session
    conf. The builder's config is captured, so no JVM starts."""

    class Started(Exception):
        pass

    seen = {}

    def config(self, key=None, value=None, conf=None, map=None):
        seen[key] = value
        return self

    def get_or_create(self):
        raise Started

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(Started):
        session.get_spark("no-spill-dir", master="local[1]")
    assert "spark.local.dir" not in seen
    assert seen["spark.sql.parquet.compression.codec"] == "zstd"
    assert seen["spark.hadoop.parquet.compression.codec.zstd.level"] == "6"
    assert seen["spark.sql.parquet.outputTimestampType"] == "TIMESTAMP_MICROS"
    seen.clear()
    with pytest.raises(Started):
        session.get_spark("spill-dir", master="local[1]", extra_conf={"spark.local.dir": "/spill"})
    assert seen["spark.local.dir"] == "/spill"
