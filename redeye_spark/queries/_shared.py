"""Shared deterministic log-line construction + parse helpers.

The `events` testdata table is deterministically transformed into NCSA
log lines by IDENTICAL arithmetic in Spark SQL and DuckDB SQL (only
formatting functions differ per dialect); oracles then derive expected
output from first principles so the two engines share no code path.

Column-name discipline: every computed column is aliased identically on
both sides (driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.logparse import FORMAT_COMMON
from ..operators import parse_op, tokenize_op

# ---------------------------------------------------------------------------
# Shared deterministic line construction (dialect differences isolated).
# Offsets exercise per-row UTC-offset preservation end to end.
# ---------------------------------------------------------------------------
_OFFS = [("-0700", -420, "-07:00"), ("-0400", -240, "-04:00"), ("+0000", 0, "+00:00"),
         ("+0200", 120, "+02:00"), ("+0530", 330, "+05:30")]

_OFF_STR = "CASE CAST(event_id % 5 AS INT) " + " ".join(
    f"WHEN {i} THEN '{o[0]}'" for i, o in enumerate(_OFFS)) + " END"
_OFF_MIN = "CASE CAST(event_id % 5 AS INT) " + " ".join(
    f"WHEN {i} THEN {o[1]}" for i, o in enumerate(_OFFS)) + " END"
_OFF_RFC = "CASE CAST(event_id % 5 AS INT) " + " ".join(
    f"WHEN {i} THEN '{o[2]}'" for i, o in enumerate(_OFFS)) + " END"

_STATUS = ("CASE CAST((event_id + user_id) % 10 AS INT) "
           "WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 200 WHEN 3 THEN 200 "
           "WHEN 4 THEN 301 WHEN 5 THEN 304 WHEN 6 THEN 404 WHEN 7 THEN 403 "
           "WHEN 8 THEN 500 ELSE 503 END")


def _frags(dialect: str) -> dict[str, str]:
    """Column-expression fragments; {S} = the dialect's string type."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        wall = f"ts + make_dt_interval(0, 0, {_OFF_MIN}, 0)"
        ts_fmt = f"date_format({wall}, 'dd/MMM/yyyy:HH:mm:ss')"
        iso_fmt = f"date_format({wall}, \"yyyy-MM-dd'T'HH:mm:ss\")"
    else:
        wall = f"ts + to_minutes(CAST({_OFF_MIN} AS BIGINT))"
        ts_fmt = f"strftime({wall}, '%d/%b/%Y:%H:%M:%S')"
        iso_fmt = f"strftime({wall}, '%Y-%m-%dT%H:%M:%S')"
    f = {
        "doc_id": f"'ev-' || CAST(event_id AS {s})",
        "host": (f"'10.' || CAST(user_id % 200 AS {s}) || '.' || CAST(event_id % 250 AS {s})"
                 f" || '.' || CAST((event_id * 7) % 250 AS {s})"),
        "user_str": f"CASE WHEN user_id % 5 = 0 THEN '-' ELSE 'u' || CAST(user_id % 100 AS {s}) END",
        # identd field: mostly '-' like real logs, but present on a slice
        # so the ident column and its JSON key-omission are exercised
        "ident_str": f"CASE WHEN event_id % 11 = 7 THEN 'svc' || CAST(event_id % 10 AS {s}) ELSE '-' END",
        "ts_fmt": ts_fmt,
        "iso_fmt": iso_fmt,
        "off_str": _OFF_STR,
        "off_rfc": _OFF_RFC,
        "method": ("CASE event_type WHEN 'view' THEN 'GET' WHEN 'click' THEN 'GET' "
                   "WHEN 'signup' THEN 'POST' WHEN 'purchase' THEN 'PUT' ELSE 'GET' END"),
        "uri": f"'/api/v' || CAST(event_id % 3 AS {s}) || '/item/' || CAST(event_id % 1000 AS {s})",
        "proto": "CASE WHEN event_id % 4 = 0 THEN 'HTTP/1.0' ELSE 'HTTP/1.1' END",
        "status_str": f"CASE WHEN event_id % 97 = 0 THEN '-' ELSE CAST({_STATUS} AS {s}) END",
        "clen_str": (f"CASE WHEN event_id % 13 = 0 THEN '-' "
                     f"ELSE CAST(CAST(floor(value * 100) AS BIGINT) % 100000 AS {s}) END"),
        # malformed injection over 'error' events (~1/5 of rows, 3 kinds)
        "badk": ("CASE WHEN event_type = 'error' AND event_id % 3 = 0 THEN 'garbage' "
                 "WHEN event_type = 'error' AND event_id % 3 = 1 THEN 'badts' "
                 "WHEN event_type = 'error' AND event_id % 3 = 2 THEN 'badint' "
                 "ELSE 'ok' END"),
    }
    # Combined-format extras: quoted referer / user-agent. "-" inside
    # quotes parses then drops (parser.rs:522-528); the 'emptyq' malformed
    # kind emits "" which ([^"]+) rejects (parser.rs:269-270).
    f["referer"] = ("CASE CAST(event_id % 4 AS INT) WHEN 0 THEN '-' "
                    "WHEN 1 THEN 'http://www.example.com/start.html' "
                    "WHEN 2 THEN 'https://search.example.org/?q=x' ELSE '-' END")
    f["ua"] = ("CASE CAST(event_id % 6 AS INT) "
               "WHEN 0 THEN 'Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36' "
               "WHEN 1 THEN 'curl/8.4.0' "
               "WHEN 2 THEN 'Mozilla/4.08 [en] (Win98; I ;Nav)' "
               "WHEN 3 THEN 'Googlebot/2.1 (+http://www.google.com/bot.html)' "
               "WHEN 4 THEN '-' ELSE 'python-requests/2.31.0' END")
    f["badk_combined"] = ("CASE WHEN event_type = 'error' AND event_id % 4 = 0 THEN 'garbage' "
                          "WHEN event_type = 'error' AND event_id % 4 = 1 THEN 'badts' "
                          "WHEN event_type = 'error' AND event_id % 4 = 2 THEN 'badint' "
                          "WHEN event_type = 'error' AND event_id % 4 = 3 THEN 'emptyq' "
                          "ELSE 'ok' END")
    f["ts_piece"] = f"CASE WHEN {f['badk']} = 'badts' THEN 'not-a-time' ELSE {f['ts_fmt']} || ' ' || {f['off_str']} END"
    f["status_piece"] = f"CASE WHEN {f['badk']} = 'badint' THEN 'NaN' ELSE {f['status_str']} END"
    f["line"] = (
        f"CASE WHEN {f['badk']} = 'garbage' THEN 'this is not a log line ' || CAST(event_id AS {s}) "
        f"ELSE {f['host']} || ' ' || {f['ident_str']} || ' ' || {f['user_str']} || ' [' || {f['ts_piece']} || '] ' "
        f"|| '\"' || {f['method']} || ' ' || {f['uri']} || ' ' || {f['proto']} || '\" ' "
        f"|| {f['status_piece']} || ' ' || {f['clen_str']} END"
    )
    # combined line shares the common core but uses badk_combined for the
    # malformed taxonomy, + trailing quoted headers
    tsp = f"CASE WHEN {f['badk_combined']} = 'badts' THEN 'not-a-time' ELSE {f['ts_fmt']} || ' ' || {f['off_str']} END"
    stp = f"CASE WHEN {f['badk_combined']} = 'badint' THEN 'NaN' ELSE {f['status_str']} END"
    uap = f"CASE WHEN {f['badk_combined']} = 'emptyq' THEN '' ELSE {f['ua']} END"
    f["line_combined"] = (
        f"CASE WHEN {f['badk_combined']} = 'garbage' THEN 'this is not a log line ' || CAST(event_id AS {s}) "
        f"ELSE {f['host']} || ' ' || {f['ident_str']} || ' ' || {f['user_str']} || ' [' || {tsp} || '] ' "
        f"|| '\"' || {f['method']} || ' ' || {f['uri']} || ' ' || {f['proto']} || '\" ' "
        f"|| {stp} || ' ' || {f['clen_str']} "
        f"|| ' \"' || {f['referer']} || '\" \"' || {uap} || '\"' END"
    )
    return f


def _utc(spark: SparkSession) -> None:
    """Pin session TZ: the driver's session config is unknown, and naive
    parquet timestamps must render/compare identically to DuckDB."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _spark_lines(spark: SparkSession, sf_dir: str, fmt: str = FORMAT_COMMON,
                 spread: bool = False) -> DataFrame:
    """events -> (doc_id, source, line) with session TZ pinned to UTC so
    naive parquet timestamps render identically to DuckDB.

    spread=True round-robins the EVENTS SCAN across the session's cores
    BEFORE the line-construction projection: the sf testdata is one
    single-row-group parquet file per table (unsplittable scan), so the
    exchange is mandatory for parallelism — placed here it carries the 5
    narrow base columns (~40 B/row) and the line build + downstream
    parse UDF all run post-exchange in parallel, instead of shuffling
    generated lines or (worse) token arrays (guide §2.3: shuffle the
    lightweight proxy, not the payload)."""
    from ..functions.logparse import FORMAT_COMBINED

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    f = _frags("spark")
    line = f["line_combined"] if fmt == FORMAT_COMBINED else f["line"]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if spread:
        ev = ev.repartition(spark.sparkContext.defaultParallelism)
    return ev.selectExpr(
        f"{f['doc_id']} AS doc_id",
        "event_type AS source",
        f"{line} AS line",
    )


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin the frame across the session's cores: the sf
    testdata is one parquet file per table, so a regex/UDF-heavy query
    would otherwise run on ONE core. Row-wise callers only — the
    result set (and every oracle hash) is partitioning-invariant."""
    return df.repartition(spark.sparkContext.defaultParallelism)


# ~15 of the 67 registry queries start from the same parsed frame; a
# correctness sweep that re-runs the tokenize->mapInPandas parse for
# each of them pays the only Python-exchange in the pipeline 15x. The
# parsed frame is persisted once per (session, sf_dir, flags) so the
# sweep pays it 3x (common / common+tokens / combined). Benchmarks set
# REDEYE_NO_PARSE_CACHE=1 — per-query timings must charge each query
# its real parse cost, not a warm cache.
_PARSED_CACHE: dict[tuple, DataFrame] = {}


def _parsed(spark: SparkSession, sf_dir: str, carry_tokens: bool = False,
            fmt: str = FORMAT_COMMON) -> DataFrame:
    import os

    def build() -> DataFrame:
        # The exchange moved BEFORE line construction (spread=True): it
        # used to sit between tokenize and parse, which (a) ran the
        # line build + tokenize UDF single-core on the unsplittable
        # 1-file scan and (b) shuffled the per-byte token arrays (~5x
        # the line bytes). Tokenize+parse are fused into one Python hop
        # (the string_column source) — detokenize(tokenize(l)) == l
        # exactly, so the result set (and every oracle hash) is unchanged.
        return parse_op.parse(
            parse_op.string_column(_spark_lines(spark, sf_dir, fmt, spread=True)),
            fmt=fmt, carry_tokens=carry_tokens,
        )

    if os.environ.get("REDEYE_NO_PARSE_CACHE"):
        return build()
    key = (spark.sparkContext.applicationId, sf_dir, bool(carry_tokens), fmt)
    df = _PARSED_CACHE.get(key)
    if df is None:
        df = build().persist()
        _PARSED_CACHE[key] = df
    return df


def _oracle_base() -> str:
    """DuckDB CTE: expected parse output derived WITHOUT regex/parsing."""
    f = _frags("duck")
    return f"""
base AS (
  SELECT
    {f['doc_id']} AS doc_id,
    event_type AS source,
    {f['badk']} AS badk,
    {f['line']} AS line,
    {f['host']} AS e_host,
    CASE WHEN event_id % 11 = 7 THEN 'svc' || CAST(event_id % 10 AS VARCHAR) END AS e_ident,
    CASE WHEN user_id % 5 = 0 THEN NULL ELSE 'u' || CAST(user_id % 100 AS VARCHAR) END AS e_user,
    {f['iso_fmt']} || {f['off_rfc']} AS e_ts_str,
    {f['method']} AS e_method,
    {f['uri']} AS e_uri,
    {f['proto']} AS e_proto,
    CASE WHEN event_id % 97 = 0 THEN NULL ELSE CAST({_STATUS} AS BIGINT) END AS e_status,
    CASE WHEN event_id % 13 = 0 THEN NULL
         ELSE CAST(floor(value * 100) AS BIGINT) % 100000 END AS e_clen,
    ts AS e_ts
  FROM events
),
expected AS (
  SELECT
    doc_id, source, line,
    CASE WHEN badk = 'badts' THEN 'TimestampParseError'
         WHEN badk IN ('garbage', 'badint') THEN 'ParseError' END AS error_kind,
    CASE WHEN badk = 'ok' THEN e_host END AS remote_host,
    CASE WHEN badk = 'ok' THEN e_ident END AS ident,
    CASE WHEN badk = 'ok' THEN e_user END AS remote_user,
    CASE WHEN badk = 'ok' THEN e_ts_str END AS timestamp_str,
    CASE WHEN badk = 'ok' THEN e_method END AS method,
    CASE WHEN badk = 'ok' THEN e_uri END AS requested_uri,
    CASE WHEN badk = 'ok' THEN e_proto END AS protocol,
    CASE WHEN badk = 'ok' THEN e_method || ' ' || e_uri || ' ' || e_proto END AS requested_url,
    CASE WHEN badk = 'ok' THEN e_status END AS status_code,
    CASE WHEN badk = 'ok' THEN e_clen END AS content_length,
    CASE WHEN badk = 'ok' THEN '1' END AS version,
    CASE WHEN badk = 'ok' THEN e_ts END AS ts_utc
  FROM base
)"""


_PARSE_COLS = [
    "doc_id", "source", "remote_host", "ident", "remote_user", "timestamp_str",
    "requested_url", "method", "requested_uri", "protocol", "status_code",
    "content_length", "version", "message", "error_kind",
]
