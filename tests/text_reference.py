"""The reference the worker-side text reader (sources.textfiles) is
tested against: Spark's line text scan, numbered per file by a window.
Nothing in the program runs it; the tests compare rows with it."""

from pyspark.sql import DataFrame, Window, functions as F

from redeye_spark.sources.textfiles import FILE_SCHEME


def text_scan(spark, path) -> DataFrame:
    """Spark's text scan as (_file, line), _file being the file URI
    without its scheme."""
    return spark.read.text(path).select(
        F.regexp_replace(F.input_file_name(), FILE_SCHEME, "").alias("_file"),
        F.col("value").alias("line"),
    )


def number_text_lines(raw: DataFrame) -> DataFrame:
    """(_file, line) -> (doc_id, source, line) with per-file physical
    line numbering by a window, spaces-only lines dropped afterwards."""
    w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
    return (
        raw.withColumn("_line_no", F.row_number().over(w))
        .filter(F.length(F.trim("line")) > 0)
        .select(
            F.concat(F.col("_file"), F.lit("#"), F.col("_line_no").cast("string"))
            .alias("doc_id"),
            F.regexp_extract("_file", r"([^/]+)$", 1).alias("source"),
            "line",
        )
    )
