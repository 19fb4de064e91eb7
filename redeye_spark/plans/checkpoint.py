"""Per-chunk checkpoint/resume with lineage + metrics (north_rule).

Spark batch jobs have no built-in partial-resume; this implements it at
the plan level: the input keyspace is split into deterministic chunks,
each chunk is committed by the same function as a plain run
(plans.pipeline.run_pipeline with the chunk's id), and a manifest
records per-chunk lineage (input fingerprint, row counts, per-sink and
per-partition metrics from the commit's own write, wall time) and, once
per run, the config that changes results. Resume skips chunks whose
manifest entry is complete and refuses a changed config or input, so a
killed run continues where it stopped and the final sinks are identical
to an uninterrupted run (FIXTURES §3.5). This module only plans chunks,
fingerprints them, checks a resume and keeps the manifest; it never
writes, reads back or counts a sink itself.

Two chunking modes:
  * hash mode (default): chunk_id = pmod(xxhash64(doc_id), n_chunks) —
    works on any input, deterministic across cluster sizes, but the
    chunk filter cannot prune the scan (every chunk reads all files).
  * partition-column mode (chunk_by="source" etc.): the column's
    distinct values are assigned round-robin to chunks and each chunk
    filters with `col IN (...)` — an In predicate that reaches the
    parquet scan (PushedFilters) and, when the table is partitioned by
    that column, prunes entire partitions. This is the 100 TB mode: a
    chunk touches only its own files.

Lineage fingerprints for ALL chunks are computed in ONE groupBy pass
over the input before the chunk loop — never one scan per chunk.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# final_counts reads the chunked aggregate table back; kept importable here
from .pipeline import PipelineConfig, PipelineResult, final_counts, run_pipeline  # noqa: F401
from ..sources.io import TableIO

MANIFEST = "manifest.json"


def chunk_column(n_chunks: int) -> Column:
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_chunks))


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, MANIFEST)


def load_manifest(checkpoint_dir: str) -> dict:
    p = _manifest_path(checkpoint_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"chunks": {}}


def _save_manifest(checkpoint_dir: str, manifest: dict) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = _manifest_path(checkpoint_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(checkpoint_dir))  # atomic commit


MAX_CHUNK_BY_VALUES = 100_000


def chunk_values(
    raw: DataFrame, chunk_by: str, n_chunks: int, max_values: int = MAX_CHUNK_BY_VALUES
) -> dict[int, list]:
    """Round-robin assignment of the partition column's distinct values
    to chunks (one distinct pass; values sorted for determinism). A NULL
    partition value is a real value: it sorts first and its chunk's
    predicate adds isNull() (isin never matches NULL).

    chunk_by is meant for PARTITION columns (date, source): the distinct
    values land on the driver and each chunk's `IN (...)` list is built
    from them, so a high-cardinality column (doc_id!) would OOM the
    driver and synthesize megabyte predicates. The limit+1 collect bounds
    driver memory BEFORE the refusal — never collects the full set."""
    collected = raw.select(chunk_by).distinct().limit(max_values + 1).collect()
    if len(collected) > max_values:
        raise ValueError(
            f"chunk_by={chunk_by!r} has more than {max_values} distinct values — "
            "not a partition column; use hash mode (chunk_by=None) instead"
        )
    vals = sorted((r[0] for r in collected), key=lambda v: (v is not None, v))
    return {c: vals[c::n_chunks] for c in range(n_chunks)}


def _chunk_predicate(chunk_by: str, vals: list) -> Column:
    non_null = [v for v in vals if v is not None]
    pred = F.col(chunk_by).isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in vals):
        pred = pred | F.col(chunk_by).isNull()
    return pred


def input_fingerprints(
    raw: DataFrame,
    n_chunks: int,
    chunk_by: str | None = None,
    values: dict[int, list] | None = None,
) -> dict[int, dict]:
    """Order-insensitive lineage fingerprints of EVERY chunk — rows +
    bit_xor of doc_id hashes — in ONE groupBy job (xor and count combine
    associatively, so per-value groups roll up to per-chunk fingerprints
    driver-side). Never scans the input per chunk."""
    key = F.col(chunk_by) if chunk_by else chunk_column(n_chunks)
    rows = (
        raw.groupBy(key.alias("ck"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr("bit_xor(xxhash64(doc_id))").alias("hash_sum"),
        )
        .collect()
    )
    if chunk_by:
        val_to_chunk = {v: c for c, vs in (values or {}).items() for v in vs}
        out = {c: {"rows": 0, "hash_sum": 0} for c in range(n_chunks)}
        for r in rows:
            if r["ck"] not in val_to_chunk:
                raise ValueError(
                    f"input has {chunk_by}={r['ck']!r} which is not in the "
                    "run's chunk assignment — the input changed under a "
                    "resume; start a fresh run (no chunk covers it)"
                )
            c = val_to_chunk[r["ck"]]
            out[c]["rows"] += r["rows"]
            out[c]["hash_sum"] ^= r["hash_sum"]
    else:
        out = {c: {"rows": 0, "hash_sum": 0} for c in range(n_chunks)}
        for r in rows:
            out[int(r["ck"])] = {"rows": r["rows"], "hash_sum": r["hash_sum"]}
    return {c: {"rows": v["rows"], "hash_sum": str(v["hash_sum"])} for c, v in out.items()}


def run_checkpointed(
    spark: SparkSession,
    raw: DataFrame,
    io: TableIO,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    n_chunks: int = 8,
    source_dim: DataFrame | None = None,
    events_table: str = "events",
    agg_table: str = "agg_counts",
    chunk_by: str | None = None,  # partition column for pushdown chunking
    fail_after: int | None = None,  # test hook: raise after k chunks
) -> dict:
    """Run the pipeline chunk-by-chunk with resume.

    Returns the manifest. Each chunk is one run_pipeline commit of its
    filtered input; aggregates are written per-chunk and re-aggregated
    on read (sum of partial counts — associative, so chunking never
    changes results).
    """
    cfg = cfg or PipelineConfig()
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    manifest = load_manifest(checkpoint_dir)
    # The run's identity; a resume must match it. Another chunking
    # double- and under-writes rows, and another output-changing config
    # mixes two outputs in the sinks (hour and day buckets in one
    # agg_counts). A key an older manifest lacks reads as None: no
    # chunk_by is hash mode, no config is refused.
    identity = {
        "n_chunks": n_chunks,
        "chunk_by": chunk_by,
        "config": {
            "fmt": cfg.fmt,
            "bucket_granularity": cfg.bucket_granularity,
            "routes": cfg.route_names(),
        },
    }
    if not manifest["chunks"]:
        manifest.update(identity)
    for key, value in identity.items():
        if manifest.get(key) != value:
            raise ValueError(f"resume with {key}={value!r} but manifest has {manifest.get(key)!r}")

    if chunk_by:
        # The value->chunk assignment is part of the run's identity: it is
        # computed ONCE and persisted, and a resume reuses it verbatim —
        # recomputing from the current input would shift the round-robin
        # assignment of every value if any new distinct value appeared,
        # silently double-/under-covering rows vs the completed chunks.
        if manifest.get("chunk_assignment"):
            values = {int(k): v for k, v in manifest["chunk_assignment"].items()}
        else:
            values = chunk_values(raw, chunk_by, n_chunks)
            manifest["chunk_assignment"] = values
    else:
        values = None
    pending = [
        c for c in range(n_chunks)
        if (manifest["chunks"].get(str(c)) or {}).get("status") != "complete"
    ]
    # ONE fingerprint pass covers all chunks — never O(chunks) rescans.
    fps = input_fingerprints(raw, n_chunks, chunk_by, values) if pending else {}
    # Resume safety (symmetric across modes): a completed chunk's current
    # input fingerprint must equal the one recorded at completion —
    # otherwise the input changed under the resume and the completed
    # chunks hold stale data, silently breaking the "sinks identical to
    # an uninterrupted run" guarantee. The fingerprints are already in
    # hand (the single pass above covers every chunk), so the check is free.
    for c_str, entry in manifest["chunks"].items():
        if entry.get("status") == "complete" and pending:
            recorded, current = entry.get("input"), fps.get(int(c_str))
            if recorded is not None and current is not None and recorded != current:
                raise ValueError(
                    f"resume: input changed under completed chunk {c_str} "
                    f"(recorded {recorded}, now {current}); its sink data is "
                    "stale — start a fresh run"
                )

    for done, chunk in enumerate(pending):
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"injected failure after {done} chunks")
        if chunk_by:
            pred = _chunk_predicate(chunk_by, values[chunk])  # pushdown-able In
        else:
            pred = chunk_column(n_chunks) == chunk
        res = run_pipeline(spark, raw.filter(pred), io, cfg, source_dim,
                           events_table, agg_table, chunk_id=chunk)
        manifest["chunks"][str(chunk)] = {
            "status": "complete",
            "input": fps[chunk],
            "rows_in": res.rows_in,
            "rows_ok": res.rows_ok,
            "rows_err": res.rows_err,
            "sinks": res.sink_rows,
            "partitions": res.partitions,
            "chunk_values": values[chunk] if chunk_by else None,
            "parse_path": res.parse_path,
            "fallback_reason": res.fallback_reason,
            "wall_sec": round(res.wall_sec, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _save_manifest(checkpoint_dir, manifest)
    return manifest


def manifest_result(manifest: dict) -> PipelineResult:
    """A checkpointed run in run_pipeline's result shape: counts summed
    over the chunks, ``wall_sec`` the chunks' summed commit time. Every
    chunk filters the input, so all take one parse path."""
    chunks = list(manifest["chunks"].values())
    sinks = Counter()
    for c in chunks:
        sinks.update(c["sinks"])
    return PipelineResult(
        rows_in=sum(c["rows_in"] for c in chunks),
        rows_ok=sum(c["rows_ok"] for c in chunks),
        rows_err=sum(c["rows_err"] for c in chunks),
        sink_rows=dict(sinks),
        wall_sec=sum(c["wall_sec"] for c in chunks),
        parse_path=chunks[0]["parse_path"],
        fallback_reason=chunks[0]["fallback_reason"],
    )
