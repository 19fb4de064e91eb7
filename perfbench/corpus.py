"""Workload inputs and the Spark-free oracle they are checked against.

Every input is a pure function of (workload, seed, rows). Building one
costs far more than checking against it, so each build is cached under
the checkout's `.perfbench/cache/` together with its oracle:

  * expected rows per sink and the expected aggregate table, computed
    with the pandas reference parser (`functions.logparse
    .parse_lines_pandas`) plus the pipeline's route rule and time
    bucket, re-derived here from their documented semantics;
  * a sample of (doc_id, generated line) pairs: the sink's `message`
    must equal the generated line, which checks the token round trip;
  * the lines of the first chunk, for the single-core kernel probes.

Generation runs in a small spawn pool; the oracle never touches Spark.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from multiprocessing import resource_tracker

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

NULL_KEY = "\x00null"  # stands in for a SQL NULL group key
NULL_US = np.iinfo(np.int64).min
AGG_KEYS = ["sink", "bucket", "status_class", "method", "source"]
SAMPLE_EVERY = 50  # one message-check row per this many input rows
POOL_SIZE = 4
CACHE_KEEP = 16  # cached builds kept per workload: ten seeds and a few quarters


@dataclass(frozen=True)
class Workload:
    name: str
    fmt: str  # "common" | "combined"
    rows: int
    span_hours: int
    granularity: str  # aggregate time bucket
    text: bool  # raw .log files (one per source) instead of a tokenized table


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("tok_combined", "combined", 60_000, 12, "hour", False),
        Workload("text_minute", "common", 30_000, 720, "minute", True),
    )
}

#: generator chunks per input; tok_combined writes one parquet file per
#: chunk, so the fast-path parse runs 8 tasks: two waves on local[4]
CHUNKS = 8
#: tiny same-shaped input run during set-up, so the timed reps start warm
WARM_ROWS = 4_000


def _granularity_freq(granularity: str) -> str:
    return {"minute": "min", "hour": "h", "day": "D"}[granularity]


def _epoch_us(s: pd.Series) -> pd.Series:
    v = pd.to_datetime(s, utc=True)
    us = (v - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(microseconds=1)
    return us.fillna(NULL_US).astype("int64")


def _str_key(s: pd.Series) -> pd.Series:
    return s.astype("object").where(s.notna(), NULL_KEY).astype(str)


def normalize_agg(df: pd.DataFrame) -> pd.DataFrame:
    """Aggregate rows -> comparable form: NULL keys made explicit, the
    bucket as int64 epoch microseconds (Spark may write INT96)."""
    out = pd.DataFrame({k: _str_key(df[k]) for k in AGG_KEYS if k != "bucket"})
    out["bucket"] = _epoch_us(df["bucket"])
    out["n"] = df["n"].astype("int64")
    return out[AGG_KEYS + ["n"]]


def oracle_rows(lines: pd.Series, sources: pd.Series, fmt: str, granularity: str) -> pd.DataFrame:
    """Expected (sink, bucket, status_class, method, source) per input
    line, from the pandas reference parser. The route rule and status
    class restate operators.route.DEFAULT_ROUTES and enrich.enrich_expr."""
    from redeye_spark.functions.logparse import parse_lines_pandas

    p = parse_lines_pandas(lines.reset_index(drop=True), fmt)
    code = p["status_code"]
    in_range = code.notna() & (code >= 100) & (code < 600)
    status_class = pd.Series(
        np.where(
            code.isna(), None,
            np.where(in_range.fillna(False), (code // 100).astype("string") + "xx", "unknown"),
        ),
        dtype="object",
    )
    sink = np.select(
        [
            p["error_kind"].notna().to_numpy(),
            (status_class == "2xx").to_numpy(),
            (status_class == "3xx").to_numpy(),
            status_class.isin(["4xx", "5xx"]).to_numpy(),
        ],
        ["dead_letter", "sink_2xx", "sink_3xx", "sink_4xx5xx"],
        "sink_other",
    )
    return pd.DataFrame(
        {
            "sink": sink,
            "bucket": p["timestamp"].dt.floor(_granularity_freq(granularity)),
            "status_class": status_class,
            "method": p["method"],
            "source": sources.reset_index(drop=True),
        }
    )


def _agg(rows: pd.DataFrame) -> pd.DataFrame:
    keyed = normalize_agg(rows.assign(n=1))
    return keyed.groupby(AGG_KEYS, sort=False, as_index=False)["n"].sum()


def _chunk_job(w: Workload, seed: int, start: int, m: int) -> dict:
    """Generate one chunk with the corpus generator's own seeding
    (sources.datagen.write_input_table: seed + start, id_offset=start)
    and compute its share of the oracle."""
    from redeye_spark.sources import datagen

    g = datagen._gen_lines(m, fmt=w.fmt, seed=seed + start, id_offset=start, span_hours=w.span_hours)
    files = g["source"] + ".log"
    rows = oracle_rows(g["line"], files if w.text else g["source"], w.fmt, w.granularity)
    pick = np.arange(0, m, SAMPLE_EVERY)
    return {
        "start": start,
        "agg": _agg(rows),
        # text line numbers depend on every chunk, so text keeps all lines
        "lines": g["line"] if w.text else g["line"][pick],
        "files": files if w.text else None,
        "doc_ids": None if w.text else g["doc_id"][pick],
        "kernel_lines": g["line"] if start == 0 else None,
    }


def _write_table_job(path: str, w: Workload, rows: int, seed: int, chunk: int) -> None:
    from redeye_spark.sources import datagen

    datagen.write_input_table(path, rows, fmt=w.fmt, seed=seed, chunk=chunk, span_hours=w.span_hours)


def _build(w: Workload, seed: int, rows: int, dest: str, pool) -> None:
    os.makedirs(dest)
    chunk = -(-rows // CHUNKS)
    table_job = None
    if not w.text:
        table_job = pool.apply_async(_write_table_job, (os.path.join(dest, "input"), w, rows, seed, chunk))
    jobs = [
        pool.apply_async(_chunk_job, (w, seed, start, min(chunk, rows - start)))
        for start in range(0, rows, chunk)
    ]
    parts = sorted((j.get() for j in jobs), key=lambda r: r["start"])
    if table_job is not None:
        table_job.get()

    agg = pd.concat([p["agg"] for p in parts], ignore_index=True)
    agg = agg.groupby(AGG_KEYS, sort=False, as_index=False)["n"].sum()
    sinks = agg.groupby("sink")["n"].sum()
    if w.text:
        # one file per source, lines in generation order; the reader's
        # doc_id is `<path>#<physical line no>`, sampled here as
        # `<file name>#<line no>` so the build can move
        text_dir = os.path.join(dest, "input")
        os.makedirs(text_dir)
        lines = pd.concat([p["lines"] for p in parts], ignore_index=True)
        files = pd.concat([p["files"] for p in parts], ignore_index=True)
        sample_ids, sample_lines = [], []
        for name, idx in files.groupby(files).groups.items():
            file_lines = lines[idx].reset_index(drop=True)
            with open(os.path.join(text_dir, name), "w") as f:
                f.write("\n".join(file_lines) + "\n")
            pick = np.arange(0, len(file_lines), SAMPLE_EVERY)
            sample_ids += [f"{name}#{i + 1}" for i in pick]
            sample_lines += file_lines[pick].tolist()
    else:
        sample_ids = pd.concat([p["doc_ids"] for p in parts]).tolist()
        sample_lines = pd.concat([p["lines"] for p in parts]).tolist()

    pq.write_table(pa.Table.from_pandas(agg, preserve_index=False), os.path.join(dest, "oracle_agg.parquet"))
    pq.write_table(
        pa.table({"doc_id": sample_ids, "line": [s.strip() for s in sample_lines]}),
        os.path.join(dest, "sample.parquet"),
    )
    pq.write_table(pa.table({"line": parts[0]["kernel_lines"]}), os.path.join(dest, "kernel_lines.parquet"))
    with open(os.path.join(dest, "oracle.json"), "w") as f:
        json.dump(
            {"rows": rows, "sinks": {k: int(v) for k, v in sinks.items()}, "agg_digest": agg_digest(agg)},
            f, sort_keys=True,
        )


def agg_digest(agg: pd.DataFrame) -> str:
    """Order-independent digest of a normalized aggregate table: the
    row count and the wrapping sum of per-row hashes."""
    h = pd.util.hash_pandas_object(agg[AGG_KEYS + ["n"]], index=False).to_numpy()
    return f"{len(agg)}:{int(h.sum(dtype=np.uint64))}"


@dataclass
class Corpus:
    workload: Workload
    seed: int
    root: str  # cache entry holding input/, warm/ and the oracle
    rows: int

    @property
    def input(self) -> str:
        return os.path.join(self.root, "input")

    @property
    def warm(self) -> "Corpus":
        return Corpus(self.workload, self.seed, os.path.join(self.root, "warm"), WARM_ROWS)

    def input_files(self) -> list[str]:
        return sorted(
            os.path.join(self.input, f) for f in os.listdir(self.input) if not f.startswith((".", "_"))
        )

    def oracle(self) -> dict:
        with open(os.path.join(self.root, "oracle.json")) as f:
            return json.load(f)

    def expected_agg(self) -> pd.DataFrame:
        return pq.read_table(os.path.join(self.root, "oracle_agg.parquet")).to_pandas()

    def sample(self) -> pd.DataFrame:
        return pq.read_table(os.path.join(self.root, "sample.parquet")).to_pandas()

    def kernel_lines(self) -> pd.Series:
        return pq.read_table(os.path.join(self.root, "kernel_lines.parquet")).to_pandas()["line"]


def prepare(w: Workload, seed: int, cache_dir: str, rows: int | None = None) -> Corpus:
    """Return the cached build of (workload, seed, rows), building it
    (input, warm-up input and oracle) on a miss."""
    rows = rows or w.rows
    entry = os.path.join(cache_dir, f"{w.name}-s{seed}-n{rows}-w{WARM_ROWS}")
    if not os.path.exists(os.path.join(entry, "DONE")):
        tmp = entry + ".tmp"
        shutil.rmtree(entry, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(min(POOL_SIZE, os.cpu_count() or 1)) as pool:
            _build(w, seed, rows, tmp, pool)
            _build(w, seed + 1_000_003, WARM_ROWS, os.path.join(tmp, "warm"), pool)
            pool.close()
            pool.join()
        # the pool's semaphores started multiprocessing's resource
        # tracker process; end it now rather than at interpreter exit
        resource_tracker._resource_tracker._stop()
        open(os.path.join(tmp, "DONE"), "w").close()
        os.replace(tmp, entry)
        _evict(cache_dir, w.name, keep=entry)
    return Corpus(w, seed, entry, rows)


def _evict(cache_dir: str, name: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if d.startswith(name + "-") and os.path.join(cache_dir, d) != keep
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def read_sinks(base: str, events: str = "events", agg: str = "agg_counts") -> tuple[dict, pd.DataFrame, pd.DataFrame]:
    """Committed outputs under a ParquetIO base, read without Spark:
    (rows per sink, aggregate table summed over any chunk partitions,
    events (doc_id, message))."""
    import pyarrow.dataset as ds

    ev = ds.dataset(os.path.join(base, events), format="parquet", partitioning="hive")
    t = ev.to_table(columns=["sink", "doc_id", "message"]).to_pandas()
    sinks = {str(k): int(v) for k, v in t["sink"].value_counts(dropna=False).items()}
    a = ds.dataset(os.path.join(base, agg), format="parquet", partitioning="hive")
    agg_t = normalize_agg(a.to_table(columns=AGG_KEYS + ["n"]).to_pandas())
    agg_t = agg_t.groupby(AGG_KEYS, sort=False, as_index=False)["n"].sum()
    return sinks, agg_t, t[["doc_id", "message"]]


def bad_rows(c: Corpus, base: str, **tables) -> int:
    """Rows the oracle disagrees with: the larger of the per-sink and the
    per-group count differences, plus sampled rows whose `message` is
    not the generated line. Capped at the input size."""
    sinks, agg_t, events = read_sinks(base, **tables)
    oracle = c.oracle()
    want = oracle["sinks"]
    sink_diff = sum(abs(sinks.get(k, 0) - want.get(k, 0)) for k in set(sinks) | set(want))
    agg_diff = 0
    if agg_digest(agg_t) != oracle["agg_digest"]:
        m = c.expected_agg().merge(agg_t, on=AGG_KEYS, how="outer", suffixes=("_want", "_got")).fillna(0)
        agg_diff = int((m["n_want"] - m["n_got"]).abs().sum())
    sample = c.sample()
    if c.workload.text:
        events = events.assign(doc_id=events["doc_id"].str.rsplit("/", n=1).str[-1])
    got = sample.merge(events, on="doc_id", how="left")
    msg_bad = int((got["message"] != got["line"]).sum())
    return min(c.rows, max(sink_diff, agg_diff) + msg_bad)


def data_bytes_files(*dirs: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(bytes, files) of the data files under the given directories."""
    size = files = 0
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                if n.endswith(suffix) and not n.startswith((".", "_")):
                    size += os.path.getsize(os.path.join(dirpath, n))
                    files += 1
    return size, files
