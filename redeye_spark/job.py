"""spark-submit entrypoint for the full pipeline.

CLI mirrors redeye's flags (--common-format / --combined-format,
src/bin/redeye.rs:38-45; exactly one required, like the exit(1) check at
redeye.rs:75-76) plus the distribution controls required by the north
rule. Example:

    spark-submit --py-files redeye_spark.zip -m redeye_spark.job \
        --combined-format --input /data/raw --output /data/out \
        --parallelism 256 --checkpoint-dir /data/ckpt --resume

Stats print as one JSON line on stdout; warnings (dead-letter counts)
go to stderr like the reference's handle_redeye_error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit runs this file as a top-level script (no parent package);
# the package itself ships to executors via --py-files.
if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redeye_spark.functions.logparse import FORMAT_COMBINED, FORMAT_COMMON
from redeye_spark.plans.pipeline import PipelineConfig, run_pipeline
from redeye_spark.plans.checkpoint import manifest_result, run_checkpointed
from redeye_spark.sources.io import resolve_io


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="redeye-spark", description=__doc__)
    fmt = p.add_mutually_exclusive_group(required=True)
    fmt.add_argument("--common-format", action="store_true", help="parse NCSA Common Log Format")
    fmt.add_argument("--combined-format", action="store_true", help="parse NCSA Combined Log Format")
    fmt.add_argument(
        "--grok", metavar="PATTERN", default=None,
        help="parse an ad-hoc format with a grok expression "
             "(%%{NAME:field} references, functions/grok.py): read the "
             "lines, then extract fields JVM-side; rows that do not match land "
             "with grok_match=false instead of the fixed-format taxonomy",
    )
    p.add_argument("--input", required=True, help="input table path (tokenized sequences)")
    p.add_argument("--output", required=True, help="output base dir / catalog namespace")
    p.add_argument("--parallelism", type=int, default=None, help="explicit repartition width before the parse UDF")
    p.add_argument("--checkpoint-dir", default=None, help="enable chunked checkpoint/resume")
    p.add_argument("--chunks", type=int, default=8, help="checkpoint chunk count")
    p.add_argument("--chunk-by", default=None,
                   help="partition column for pushdown-able chunking (default: doc_id hash)")
    p.add_argument("--resume", action="store_true", help="skip chunks already complete in the manifest")
    p.add_argument("--salt-buckets", type=int, default=16)
    p.add_argument("--bucket", default="hour", choices=["minute", "hour", "day"])
    p.add_argument(
        "--arrow-batch-rows", type=int, default=None,
        help="rows per Arrow batch crossing the JVM->Python boundary or "
             "read by the parse tasks from tokenized parquet — the analog "
             "of redeye's --input-buffer/--output-buffer "
             "(src/bin/redeye.rs:47-53); default from session.py. Raw text "
             "input is read in 1 MiB blocks regardless",
    )
    p.add_argument(
        "--json-sink", action="store_true",
        help="also write ok rows as JSON lines (the reference's primary "
             "output mode, src/bin/redeye.rs:86-87) to <output>/events_json",
    )
    p.add_argument(
        "--text-input", action="store_true",
        help="treat --input as raw .log text files (the reference's stdin "
             "mode, src/bin/redeye.rs:82) instead of a tokenized parquet "
             "table; the parse tasks read and number the lines themselves, "
             "doc_id = file#line_no",
    )
    p.add_argument("--master", default=None, help="override master (tests); omit under spark-submit")
    return p


def main(argv: list[str] | None = None) -> int:
    p = build_arg_parser()
    args = p.parse_args(argv)
    if args.chunk_by and not args.checkpoint_dir:
        p.error("--chunk-by requires --checkpoint-dir (chunking is the checkpoint unit)")
    if args.grok and args.checkpoint_dir:
        p.error("--grok does not support --checkpoint-dir (chunked resume is "
                "a fixed-format pipeline feature)")
    if args.grok and args.json_sink:
        p.error("--grok does not support --json-sink (the Logstash JSON "
                "contract is defined by the fixed-format parsers)")
    from redeye_spark.session import get_spark

    spark = get_spark("redeye-spark-job", master=args.master)
    if args.arrow_batch_rows:
        # runtime SQL conf: applies even when the session already exists
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(args.arrow_batch_rows)
        )
    cfg = PipelineConfig(
        fmt=FORMAT_COMBINED if args.combined_format else FORMAT_COMMON,
        # text mode: local uncompressed files are cut into this many byte
        # ranges, each read by its parse task; a local .gz/.bz2 file is
        # one task's piece, and other files (object stores, other codecs)
        # add one row per file to the same parse stage: each of these is
        # parsed by one task
        num_partitions=args.parallelism
        or (spark.sparkContext.defaultParallelism if args.text_input else None),
        bucket_granularity=args.bucket,
        salt_buckets=args.salt_buckets,
    )
    io = resolve_io(spark, args.output)
    if args.grok:
        from pyspark.sql import functions as F

        from redeye_spark.functions.grok import grok_extract

        # grok extracts fields JVM-side, so the input crosses to Python
        # at most once, to read its line strings
        if args.text_input:
            from redeye_spark.operators.tokenize_op import text_lines_df

            lines = text_lines_df(spark, args.input, cfg.num_partitions)
        else:
            # the parse's line source: parquet_files for a bare local
            # scan (small files packed into tasks by Spark's split rule),
            # --parallelism repartitions the tokens before the hop
            from redeye_spark.operators import parse_op
            from redeye_spark.plans.pipeline import line_source

            lines = parse_op.lines(line_source(spark, spark.read.parquet(args.input), cfg)[0])
        extracted = grok_extract(lines, args.grok, keep=["doc_id", "source"])
        io.write(extracted, "events_grok")
        back = io.read(spark, "events_grok")
        agg = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("grok_match"), 1)).alias("ok"),
        ).collect()[0]
        stats = {"rows_in": agg["n"], "rows_ok": agg["ok"],
                 "rows_err": agg["n"] - agg["ok"]}
        if stats["rows_err"]:
            print(f"warning: {stats['rows_err']} lines did not match the grok pattern",
                  file=sys.stderr)
        print(json.dumps(stats))
        return 0

    if args.text_input:
        from redeye_spark.operators.tokenize_op import read_text_lines

        raw = read_text_lines(spark, args.input)
    else:
        raw = spark.read.parquet(args.input)

    if args.checkpoint_dir:
        if not args.resume:
            # Fresh run: wipe the manifest AND the sink tables. Chunk
            # commits use dynamic partition overwrite, which only replaces
            # partitions present in the new data — a previous run's
            # partition the new run doesn't produce (e.g. an empty chunk)
            # would otherwise survive and corrupt the final counts.
            import shutil

            if os.path.exists(args.checkpoint_dir):
                shutil.rmtree(args.checkpoint_dir)
            io.delete(spark, "events")
            io.delete(spark, "agg_counts")
        manifest = run_checkpointed(
            spark, raw, io, args.checkpoint_dir, cfg,
            n_chunks=args.chunks, chunk_by=args.chunk_by,
        )
        res, extra = manifest_result(manifest), {"chunks": len(manifest["chunks"])}
    else:
        res, extra = run_pipeline(spark, raw, io, cfg), {}
    stats = {
        "rows_in": res.rows_in,
        "rows_ok": res.rows_ok,
        "rows_err": res.rows_err,
        "sinks": res.sink_rows,
        "wall_sec": round(res.wall_sec, 3),
        "parse_path": res.parse_path,
        "fallback_reason": res.fallback_reason,
        **extra,
    }

    if args.json_sink:
        # The reference's primary output contract: one JSON object per ok
        # line (src/bin/redeye.rs:86-87). Re-reads the committed events
        # sink (column-pruned) rather than caching the parse stream.
        from pyspark.sql import functions as F

        from redeye_spark.operators.parse_op import to_logstash_json
        from redeye_spark.sources.io import ParquetIO

        ok = io.read(spark, "events").filter(F.col("error_kind").isNull())
        json_df = to_logstash_json(ok).select("json")
        if isinstance(io, ParquetIO):
            # filesystem backend: literal JSON-lines text files
            json_path = io.location("events_json")
            json_df.write.mode("overwrite").text(json_path)
            stats["json_rows"] = spark.read.text(json_path).count()
        else:
            # catalog backend: args.output is a namespace, not a path —
            # land the JSON lines as a single-column catalog table
            io.write(json_df, "events_json")
            stats["json_rows"] = io.read(spark, "events_json").count()

    if stats["rows_err"]:
        print(f"warning: {stats['rows_err']} lines routed to dead-letter", file=sys.stderr)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
