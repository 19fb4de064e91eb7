"""Per-sink aggregate counts, with one exchange and no salt.

Counts per (time bucket, status_class, method, source) per sink
(FIXTURES §1.4). A count's map-side partial aggregate always runs, so a
hot group reaches its reducer as at most one row per map task: on 2M
rows the 201,088-row hottest group sent 12 rows from 32 map tasks, while
`salted_counts` (kept for q_agg_counts_hour) added a stage, 13x the
shuffle bytes and 11x the busiest reducer's records (README, "Skew").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

AGG_KEYS = ["status_class", "method", "source"]


def bucket_col(granularity: str = "hour") -> F.Column:
    return F.date_trunc(granularity, F.col("timestamp")).alias("bucket")


def sink_counts(tagged: DataFrame, granularity: str = "hour") -> DataFrame:
    """Straight hash aggregation: groupBy(sink, bucket, keys).count()."""
    return (
        tagged.groupBy(F.col("sink"), bucket_col(granularity), *[F.col(k) for k in AGG_KEYS])
        .agg(F.count(F.lit(1)).alias("n"))
    )


def salted_counts(
    tagged: DataFrame,
    granularity: str = "hour",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted count, result identical to sink_counts.

    Phase 1 groups on (salt, keys) — the salt derives from doc_id's hash
    so a hot (source, bucket) group fans across `salt_buckets` reducers.
    Phase 2 re-aggregates the (tiny) partial counts on the real keys.
    """
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(salt_buckets)).alias("_salt")
    partial = (
        tagged.select(
            salt, F.col("sink"), bucket_col(granularity), *[F.col(k) for k in AGG_KEYS]
        )
        .groupBy("_salt", "sink", "bucket", *AGG_KEYS)
        .agg(F.count(F.lit(1)).alias("_partial_n"))
    )
    return partial.groupBy("sink", "bucket", *AGG_KEYS).agg(F.sum("_partial_n").alias("n"))


def hopping_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Overlapping (hopping) time-window counts — the batch twin of the
    streaming windowed aggregation: each row lands in window/slide
    windows (e.g. two for 1h/30m), counted per (window, keys).

    `F.window` replicates each row window/slide times *inside the
    partial (map-side) aggregate*, so the shuffle carries only the
    already-combined (window, keys) partial counts — the amplification
    factor never crosses the exchange. That is the property that keeps
    hopping windows viable at 100 TB; materializing the replicated rows
    and then grouping would double (or worse) the shuffle volume.
    """
    return (
        df.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def rolling_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
) -> DataFrame:
    """(day, n_unique) — EXACT trailing-window distinct count per day
    (e.g. rolling 7-day unique visitors), for every day within
    `window_days` of an active day (clipped at the corpus max). A day
    preceded AND followed by >= window_days of silence emits no row —
    nothing fans into it; zero-filling a full min..max calendar grid is
    the caller's join, not this operator's contract.

    Windowed COUNT(DISTINCT) has no native Spark window form and the
    naive day x day range join shuffles |days| copies of the key
    stream. This plans it as: distinct (day, key) pairs (one partial-
    aggregated shuffle of ~|active keys per day| rows), each pair
    exploded to the `window_days` target days it contributes to (a
    narrow `sequence`, amplifying the DEDUPLICATED pairs only, never
    the event stream), then count_distinct per target day. Days with
    no events still report (they receive contributions from the
    preceding window); days beyond the corpus end are clipped via a
    broadcast 1-row bound."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    pairs = df.select(
        F.to_date(F.col(ts_col)).alias("_day"), F.col(key_col).alias("_key")
    ).distinct()
    bounds = pairs.agg(F.max("_day").alias("_max_day"))
    fanned = pairs.select(
        F.explode(
            F.sequence(
                F.col("_day"),
                F.date_add(F.col("_day"), window_days - 1),
            )
        ).alias("day"),
        "_key",
    )
    return (
        fanned.join(F.broadcast(bounds))
        .filter(F.col("day") <= F.col("_max_day"))
        .groupBy("day")
        .agg(F.count_distinct("_key").alias("n_unique"))
    )


#: Default ceiling for census-frame windows. A census is bounded by a
#: VALUE RANGE (bins, buckets, distinct scores) — corpus-size-free by
#: design — but a misconfigured grid (bucket_width too fine for the
#: data) silently turns the "tiny census walk" into a single-partition
#: sort over a huge frame at scale. 5M rows still windows in seconds
#: and bounds the buffered partition to ~100s of MB.
MAX_CENSUS_ROWS = 5_000_000


def assert_census_bounded(census: DataFrame, max_rows: int, hint: str) -> None:
    """Raise before an unpartitioned census window runs if the census
    frame exceeds ``max_rows`` (the round-6 verdict's guard for the
    deliberately census-bounded windows). The probe is a bounded
    ``limit(max_rows + 1).count()`` — it never materializes more than
    one row past the cap."""
    n = census.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"census frame exceeds {max_rows} rows ({n}+); the census "
            f"window would single-partition at scale — {hint}"
        )


def group_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    fractions: tuple[tuple[int, int], ...] = ((1, 2), (9, 10), (99, 100)),
    names: tuple[str, ...] = ("p50", "p90", "p99"),
) -> DataFrame:
    """(group, n, p50, p90, p99) — EXACT per-group percentiles of an
    integer value column: the per-service latency/size SLO read.

    Percentile q = num/den is the smallest value whose per-group
    cumulative count reaches ceil(q·n_group) — integer cross-multiplied
    rank arithmetic, no float interpolation, so the read is engine-
    exact (nearest-rank / PERCENTILE_DISC semantics).

    Scale shape: one partial-aggregated census shuffle of distinct
    (group, value) cells — the only corpus-sized pass; the cumulative
    walk, per-group totals, and boundary extraction all run as windows
    and an aggregate over the CENSUS, partitioned BY GROUP (cells per
    group bounded by that group's value range, never its row count).
    NULL values are excluded (they have no rank)."""
    from pyspark.sql import Window

    if len(fractions) != len(names):
        raise ValueError("fractions and names must align")
    for num, den in fractions:
        if not (0 < num <= den):
            raise ValueError(f"fractions must be in (0,1]: {num}/{den}")
    g = F.col(group_col)
    v = F.col(value_col).cast("long")
    cen = (
        df.filter(v.isNotNull())
        .select(g.alias("_g"), v.alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cum_w = (
        Window.partitionBy("_g").orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("_g")
    walked = (
        cen.withColumn("_cum", F.sum("_n").over(cum_w))
        .withColumn("_tot", F.sum("_n").over(tot_w))
        # per-group census size rides the same window pass: the guard
        # below fails LOUDLY (raise_error) if one group's value range
        # explodes past the census bound, instead of silently sorting a
        # huge partition at scale (round-6 verdict's guard; windows here
        # are per-group, so the cap applies per group, probe-free)
        .withColumn("_cells", F.count(F.lit(1)).over(tot_w))
    )
    n_guarded = F.when(
        F.max("_cells") <= F.lit(MAX_CENSUS_ROWS), F.max("_tot")
    ).otherwise(
        F.raise_error(
            F.lit(
                "group census exceeds %d cells; coarsen the value grid "
                "(group_percentiles)" % MAX_CENSUS_ROWS
            )
        ).cast("long")
    )
    return walked.groupBy(F.col("_g").alias(group_col)).agg(
        n_guarded.cast("long").alias("n"),
        *[
            F.min(
                F.when(F.col("_cum") * den >= num * F.col("_tot"), F.col("_v"))
            ).alias(nm)
            for (num, den), nm in zip(fractions, names)
        ],
    )
