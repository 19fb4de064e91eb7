"""Log-pipeline queries: parse (common/combined), routing, enrich,
aggregation, grok, multiline assembly, JSON sink, percentiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: F401

from ..functions.logparse import FORMAT_COMMON  # noqa: F401
from ..operators import enrich as enrich_op  # noqa: F401
from ..operators import parse_op, route as route_op, tokenize_op  # noqa: F401
from ..operators import aggregate as agg_op  # noqa: F401
from ._shared import (  # noqa: F401
    _OFFS, _STATUS, _frags, _oracle_base, _parsed, _spark_lines, _spread,
    _utc, _PARSE_COLS,
)



# ---------------------------------------------------------------------------
# queries() / oracle_sql() entries
# ---------------------------------------------------------------------------

def q_parse_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2-P11: full parse through tokenize -> mapInPandas regex machinery."""
    return _parsed(spark, sf_dir).select(*_PARSE_COLS)


SQL_PARSE_COMMON = f"""
WITH {_oracle_base()}
SELECT doc_id, source, remote_host, ident, remote_user, timestamp_str,
       requested_url, method, requested_uri, protocol, status_code,
       content_length, version, line AS message, error_kind
FROM expected
"""


def q_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 error route: counts by error taxonomy (types.rs:33-38)."""
    return (
        _parsed(spark, sf_dir)
        .filter(F.col("error_kind").isNotNull())
        .groupBy("error_kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_DEAD_LETTER = f"""
WITH {_oracle_base()}
SELECT error_kind, COUNT(*) AS n FROM expected
WHERE error_kind IS NOT NULL GROUP BY error_kind
"""


def q_enrich_status_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join: status_class x method counts over ok rows."""
    parsed = _parsed(spark, sf_dir)
    enriched = enrich_op.enrich(
        parsed, enrich_op.dim_status_class(spark), enrich_op.dim_ua_family(spark)
    )
    return (
        enriched.filter(F.col("error_kind").isNull() & F.col("status_code").isNotNull())
        .groupBy("status_class", "method")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_ENRICH_STATUS_CLASS = f"""
WITH {_oracle_base()}
SELECT CAST(floor(status_code / 100) AS BIGINT) || 'xx' AS status_class, method, COUNT(*) AS n
FROM expected WHERE error_kind IS NULL AND status_code IS NOT NULL
GROUP BY 1, 2
"""


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate fan-out totality: rows per sink.

    enrich_expr: the static dims are deterministic functions, computed
    as codegen expressions (value-identical to the broadcast joins —
    same oracle) instead of two AQE broadcast-stage latencies; the
    join-based path stays exercised by enrich_status_class."""
    parsed = _parsed(spark, sf_dir)
    return route_op.route_counts(route_op.tag_routes(enrich_op.enrich_expr(parsed)))


SQL_ROUTE_COUNTS = f"""
WITH {_oracle_base()}
SELECT CASE WHEN error_kind IS NOT NULL THEN 'dead_letter'
            WHEN status_code BETWEEN 200 AND 299 THEN 'sink_2xx'
            WHEN status_code BETWEEN 300 AND 399 THEN 'sink_3xx'
            WHEN status_code BETWEEN 400 AND 599 THEN 'sink_4xx5xx'
            ELSE 'sink_other' END AS sink,
       COUNT(*) AS n
FROM expected GROUP BY 1
"""


def q_agg_counts_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink hourly aggregate via the SALTED two-phase path; bucket
    returned as string to keep cross-engine hashing exact."""
    parsed = _parsed(spark, sf_dir)
    # enrich_expr: see q_route_counts — value-identical, join-free
    tagged = route_op.tag_routes(enrich_op.enrich_expr(parsed))
    counts = agg_op.salted_counts(tagged, "hour", salt_buckets=8)
    return counts.select(
        "sink",
        F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("bucket_str"),
        "status_class", "method", "source", "n",
    )


SQL_AGG_COUNTS_HOUR = f"""
WITH {_oracle_base()}
SELECT CASE WHEN error_kind IS NOT NULL THEN 'dead_letter'
            WHEN status_code BETWEEN 200 AND 299 THEN 'sink_2xx'
            WHEN status_code BETWEEN 300 AND 399 THEN 'sink_3xx'
            WHEN status_code BETWEEN 400 AND 599 THEN 'sink_4xx5xx'
            ELSE 'sink_other' END AS sink,
       strftime(date_trunc('hour', ts_utc), '%Y-%m-%d %H:00:00') AS bucket_str,
       CASE WHEN status_code IS NOT NULL THEN CAST(floor(status_code / 100) AS BIGINT) || 'xx' END AS status_class,
       method, source, COUNT(*) AS n
FROM expected GROUP BY ALL
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (COUNT DISTINCT per group): plans as the
    two-phase expand/partial-distinct strategy — the scale-correct shape
    (per-partition dedup before the shuffle)."""
    parsed = _parsed(spark, sf_dir)
    return (
        parsed.filter(F.col("error_kind").isNull())
        .groupBy("method")
        .agg(
            F.countDistinct("remote_host").alias("n_hosts"),
            F.countDistinct("requested_uri").alias("n_uris"),
            F.count(F.lit(1)).alias("n_requests"),
        )
    )


SQL_DISTINCT_COUNTS = f"""
WITH {_oracle_base()}
SELECT method,
       COUNT(DISTINCT remote_host) AS n_hosts,
       COUNT(DISTINCT requested_uri) AS n_uris,
       COUNT(*) AS n_requests
FROM expected WHERE error_kind IS NULL
GROUP BY method
"""


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (Spark `percentile` == DuckDB
    quantile_cont: linear interpolation on the sorted values). The
    approximate-sketch variant for 100 TB is percentile_approx /
    approx_quantile — same plan shape, bounded state."""
    parsed = _parsed(spark, sf_dir)
    return (
        parsed.filter(F.col("error_kind").isNull() & F.col("content_length").isNotNull())
        .groupBy("method")
        .agg(
            F.round(F.expr("percentile(content_length, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(content_length, 0.95)"), 4).alias("p95"),
            F.max("content_length").alias("max_len"),
        )
    )


SQL_LATENCY_PERCENTILES = f"""
WITH {_oracle_base()}
SELECT method,
       round(quantile_cont(content_length, 0.5), 4) AS p50,
       round(quantile_cont(content_length, 0.95), 4) AS p95,
       MAX(content_length) AS max_len
FROM expected WHERE error_kind IS NULL AND content_length IS NOT NULL
GROUP BY method
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics: the 10 heaviest keys by row count (here:
    remote_host over the parsed stream) with a deterministic tiebreak —
    the probe a pipeline runs before choosing a salted/bucketed plan
    (pairs with enrich.salted_join / aggregate.salted_counts). Plans as
    partial-agg -> exchange -> final-agg -> TakeOrderedAndProject: the
    heavy-key report itself never full-sorts."""
    parsed = _parsed(spark, sf_dir)
    return (
        parsed.filter(
            F.col("error_kind").isNull() & F.col("remote_host").isNotNull()
        )
        .groupBy("remote_host")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("remote_host").asc())
        .limit(10)
    )


SQL_HEAVY_HITTERS = f"""
WITH {_oracle_base()}
SELECT remote_host, COUNT(*) AS n
FROM expected WHERE error_kind IS NULL AND remote_host IS NOT NULL
GROUP BY remote_host
ORDER BY n DESC, remote_host ASC
LIMIT 10
"""


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-grouping (Expand-based plan: one pass emits all
    grouping sets). Error rows are excluded first so NULL grouping keys
    unambiguously mark subtotal rows in both engines."""
    parsed = _parsed(spark, sf_dir)
    return (
        parsed.filter(F.col("error_kind").isNull())
        .rollup("method", "protocol")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_ROLLUP_COUNTS = f"""
WITH {_oracle_base()}
SELECT method, protocol, COUNT(*) AS n
FROM expected WHERE error_kind IS NULL
GROUP BY ROLLUP(method, protocol)
"""


def q_token_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-array equality invariant (FIXTURES §3.1) for every row.

    Validation is fused into the parse hop (parse_op.parse
    validate=True): same tokens_equal(message, tokens) computation, but
    without shipping the full parsed frame + token arrays through a
    second mapInPandas just to compare two byte buffers."""
    parsed = parse_op.parse(
        parse_op.string_column(_spark_lines(spark, sf_dir, spread=True)),
        carry_tokens=True, validate=True,
    )
    return parsed.select("doc_id", F.size("tokens").cast("long").alias("n_bytes"), "token_ok")


# n_tok == LENGTH(line) because constructed lines are pure ASCII.
SQL_TOKEN_ROUNDTRIP = f"""
WITH {_oracle_base()}
SELECT doc_id, CAST(length(line) AS BIGINT) AS n_bytes, true AS token_ok FROM expected
"""


def q_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 JSON-lines sink in CANONICAL (sorted-key, jq -S) form over the
    COMBINED format, so the driver verifies the full JSON contract:
    key naming ("@timestamp", "@version", nested request_headers with
    literal "user-agent"), key omission of '-' fields at every level,
    number rendering, and string escaping (messages contain quotes).
    redeye's own HashMap key order is nondeterministic — its README
    pipes output through `jq -S` to compare, which is exactly this form.
    The reference-ordered sink itself is parse_op.to_logstash_json
    (reachable via job.py --json-sink)."""
    from ..functions.logparse import FORMAT_COMBINED

    return parse_op.to_canonical_json(_parsed(spark, sf_dir, fmt=FORMAT_COMBINED))


# --- relational coverage over TPC-H-ish tables (SURVEY §2.2) ---




# ---------------------------------------------------------------------------
# Combined-format parse (P4 + quirks 3/4: quoted headers, emptyq rejects)
# ---------------------------------------------------------------------------

def q_parse_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.logparse import FORMAT_COMBINED

    return _parsed(spark, sf_dir, fmt=FORMAT_COMBINED).select(
        "doc_id", "remote_host", "timestamp_str", "status_code",
        "referer", "user_agent", "error_kind",
    )


def _oracle_combined_base() -> str:
    f = _frags("duck")
    return f"""
cbase AS (
  SELECT
    {f['doc_id']} AS doc_id,
    {f['badk_combined']} AS badk,
    {f['line_combined']} AS line,
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
    CASE WHEN {f['referer']} = '-' THEN NULL ELSE {f['referer']} END AS e_referer,
    CASE WHEN {f['ua']} = '-' THEN NULL ELSE {f['ua']} END AS e_ua
  FROM events
),
cexpected AS (
  SELECT doc_id, line,
    CASE WHEN badk = 'badts' THEN 'TimestampParseError'
         WHEN badk IN ('garbage', 'badint', 'emptyq') THEN 'ParseError' END AS error_kind,
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
    CASE WHEN badk = 'ok' THEN e_referer END AS referer,
    CASE WHEN badk = 'ok' THEN e_ua END AS user_agent
  FROM cbase
)"""


SQL_PARSE_COMBINED = f"""
WITH {_oracle_combined_base()}
SELECT doc_id, remote_host, timestamp_str, status_code, referer, user_agent, error_kind
FROM cexpected
"""


# Canonical JSON built by hand with sorted keys; concat_ws skips NULL
# fragments, reproducing to_json's ignoreNullFields at both levels, and
# DuckDB's to_json() escapes strings identically (JSON standard). Plain
# concatenation (no f-string) keeps the JSON braces readable.
SQL_JSON_LINES = "WITH " + _oracle_combined_base() + """
SELECT doc_id,
  '{' || concat_ws(',',
    '"@timestamp":' || to_json(timestamp_str),
    '"@version":"1"',
    CASE WHEN content_length IS NOT NULL THEN '"content_length":' || content_length END,
    CASE WHEN ident IS NOT NULL THEN '"ident":' || to_json(ident) END,
    '"message":' || to_json(line),
    '"method":' || to_json(method),
    '"protocol":' || to_json(protocol),
    '"remote_host":' || to_json(remote_host),
    CASE WHEN remote_user IS NOT NULL THEN '"remote_user":' || to_json(remote_user) END,
    CASE WHEN referer IS NOT NULL OR user_agent IS NOT NULL THEN
      '"request_headers":{' || concat_ws(',',
        CASE WHEN referer IS NOT NULL THEN '"referer":' || to_json(referer) END,
        CASE WHEN user_agent IS NOT NULL THEN '"user-agent":' || to_json(user_agent) END
      ) || '}' END,
    '"requested_uri":' || to_json(requested_uri),
    '"requested_url":' || to_json(requested_url),
    CASE WHEN status_code IS NOT NULL THEN '"status_code":' || status_code END
  ) || '}' AS json
FROM cexpected WHERE error_kind IS NULL
"""


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 inverse: the canonical JSON-lines sink output is written to
    disk as text, read BACK through spark.read.json with an explicit
    schema, and re-projected to scalar columns against the combined
    parse oracle — proving the sink emits JSON a downstream Spark
    consumer loads losslessly (numbers stay numbers, omitted keys
    surface as NULLs, the nested request_headers mapping round-trips).
    Rows are keyed by `message` (the trimmed original line, unique per
    event by construction)."""
    import atexit
    import shutil
    import tempfile

    from ..functions.logparse import FORMAT_COMBINED

    parsed = _parsed(spark, sf_dir, fmt=FORMAT_COMBINED)
    js = parse_op.to_canonical_json(parsed)
    base = tempfile.mkdtemp(prefix="redeye_jsonrt_")
    js.select("json").write.mode("overwrite").text(base + "/out")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    schema = (
        "`@timestamp` STRING, `@version` STRING, content_length BIGINT, "
        "ident STRING, message STRING, method STRING, protocol STRING, "
        "remote_host STRING, remote_user STRING, "
        "request_headers STRUCT<referer: STRING, `user-agent`: STRING>, "
        "requested_uri STRING, requested_url STRING, status_code BIGINT"
    )
    back = spark.read.schema(schema).json(base + "/out")
    return back.select(
        F.col("message"),
        F.col("`@timestamp`").alias("timestamp_str"),
        F.col("`@version`").alias("version"),
        "remote_host", "ident", "remote_user", "method", "protocol",
        "requested_uri", "requested_url",
        # double-cast: both nullable numerics surface as float in ANY
        # pandas slice, so cross-engine dtype classes can't flap on
        # whether a 50-row sample happens to contain a NULL
        F.col("status_code").cast("double").alias("status_code"),
        F.col("content_length").cast("double").alias("content_length"),
        F.col("request_headers.referer").alias("referer"),
        F.col("request_headers.`user-agent`").alias("user_agent"),
    )


SQL_JSON_ROUNDTRIP = "WITH " + _oracle_combined_base() + """
SELECT line AS message, timestamp_str, '1' AS version,
       remote_host, ident, remote_user, method, protocol,
       requested_uri, requested_url,
       CAST(status_code AS DOUBLE) AS status_code,
       CAST(content_length AS DOUBLE) AS content_length,
       referer, user_agent
FROM cexpected WHERE error_kind IS NULL
"""


def q_enrich_ua_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast UA-family lookup join over combined-format parses."""
    from ..functions.logparse import FORMAT_COMBINED

    parsed = _parsed(spark, sf_dir, fmt=FORMAT_COMBINED)
    enriched = enrich_op.enrich(
        parsed, enrich_op.dim_status_class(spark), enrich_op.dim_ua_family(spark)
    )
    return (
        enriched.filter(F.col("user_agent").isNotNull())
        .groupBy("ua_family")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_ENRICH_UA_FAMILY = f"""
WITH {_oracle_combined_base()}
SELECT CASE WHEN user_agent LIKE 'Mozilla%' OR user_agent LIKE 'Opera%' THEN 'browser'
            WHEN user_agent LIKE 'curl%' OR user_agent LIKE 'Wget%'
                 OR user_agent LIKE 'python-requests%' OR user_agent LIKE 'Go-http-client%' THEN 'cli'
            WHEN user_agent LIKE 'Googlebot%' OR user_agent LIKE 'bingbot%'
                 OR user_agent LIKE 'Baiduspider%' OR user_agent LIKE 'facebookexternalhit%' THEN 'bot'
            ELSE 'other' END AS ua_family,
       COUNT(*) AS n
FROM cexpected WHERE user_agent IS NOT NULL
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Training-data ops over documents / embeddings (first-class coverage)
# ---------------------------------------------------------------------------

def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of parsed requests per remote host
    (window functions: lag -> gap flag -> running sum)."""
    from ..operators import sessionize as sess_op

    parsed = _parsed(spark, sf_dir).filter(
        F.col("error_kind").isNull() & F.col("remote_host").isNotNull()
    )
    return sess_op.session_stats(parsed, key="remote_host", ts="timestamp", gap_minutes=30)


SQL_SESSION_STATS = f"""
WITH {_oracle_base()},
ok AS (
  SELECT remote_host, date_trunc('second', ts_utc) AS t
  FROM expected WHERE error_kind IS NULL AND remote_host IS NOT NULL
),
s AS (
  SELECT remote_host, t,
         CASE WHEN lag(t) OVER w IS NULL
                   OR epoch(t) - epoch(lag(t) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ok WINDOW w AS (PARTITION BY remote_host ORDER BY t)
),
s2 AS (
  SELECT remote_host, t,
         SUM(new_s) OVER (PARTITION BY remote_host ORDER BY t ROWS UNBOUNDED PRECEDING) AS sn
  FROM s
)
SELECT remote_host,
       remote_host || '#' || CAST(sn AS VARCHAR) AS session_id,
       COUNT(*) AS n_requests,
       CAST(MAX(epoch(t)) - MIN(epoch(t)) AS BIGINT) AS duration_sec
FROM s2 GROUP BY 1, 2
"""


def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE session_window operator
    (SessionWindowing node — the built-in that also runs under
    Structured Streaming with merging state), next to the lag-based
    q_session_stats so both sessionizers are oracled. Boundary rule
    differs by design: native sessions split at gap >= 30min (window =
    [start, last+gap)), the lag-based one at gap > 30min; the oracle
    states the >= rule."""
    from ..operators import sessionize as sess_op

    parsed = _parsed(spark, sf_dir).filter(
        F.col("error_kind").isNull() & F.col("remote_host").isNotNull()
    )
    out = sess_op.session_window_stats(
        parsed, key="remote_host", ts="timestamp", gap_minutes=30
    )
    return out.select(
        "remote_host",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_str"),
        "n_requests",
        "duration_sec",
    )


SQL_SESSION_WINDOW_STATS = f"""
WITH {_oracle_base()},
ok AS (
  SELECT remote_host, date_trunc('second', ts_utc) AS t
  FROM expected WHERE error_kind IS NULL AND remote_host IS NOT NULL
),
s AS (
  SELECT remote_host, t,
         CASE WHEN lag(t) OVER w IS NULL
                   OR epoch(t) - epoch(lag(t) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ok WINDOW w AS (PARTITION BY remote_host ORDER BY t)
),
s2 AS (
  SELECT remote_host, t,
         SUM(new_s) OVER (PARTITION BY remote_host ORDER BY t ROWS UNBOUNDED PRECEDING) AS sn
  FROM s
)
SELECT remote_host,
       strftime(MIN(t), '%Y-%m-%d %H:%M:%S') AS start_str,
       COUNT(*) AS n_requests,
       CAST(MAX(epoch(t)) - MIN(epoch(t)) AS BIGINT) AS duration_sec
FROM s2 GROUP BY remote_host, sn
"""


def q_latency_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: percentile_approx (Greenwald-Khanna
    sketch, memory bounded by `accuracy` regardless of group size) over
    the same grouping as the exact q_latency_percentiles. With accuracy
    >= the group size the sketch buffers losslessly and returns the
    EXACT discrete quantile (the element at rank ceil(p*n)) — equal to
    DuckDB quantile_disc, which is the oracle here. At scale the same
    plan holds with rank error <= n/accuracy instead of an exact-percentile
    OOM (exact `percentile` buffers every value per group)."""
    parsed = _parsed(spark, sf_dir)
    acc = F.lit(1_000_000)
    return (
        parsed.filter(F.col("error_kind").isNull() & F.col("content_length").isNotNull())
        .groupBy("method")
        .agg(
            F.percentile_approx("content_length", F.lit(0.5), acc).alias("p50"),
            F.percentile_approx("content_length", F.lit(0.95), acc).alias("p95"),
            F.percentile_approx("content_length", F.lit(0.99), acc).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_LATENCY_PERCENTILES_APPROX = f"""
WITH {_oracle_base()}
SELECT method,
       quantile_disc(content_length, 0.5) AS p50,
       quantile_disc(content_length, 0.95) AS p95,
       quantile_disc(content_length, 0.99) AS p99,
       COUNT(*) AS n
FROM expected WHERE error_kind IS NULL AND content_length IS NOT NULL
GROUP BY method
"""




def _grok_common_parts() -> tuple[str, list[str]]:
    from ..functions.grok import grok_to_regex

    return grok_to_regex(
        r"%{IPORHOST:remote_host} %{USER:ident} %{USER:user} "
        r"\[%{HTTPDATE:ts}\] "
        r'"%{WORD:method} %{NOTSPACE:path} %{NOTSPACE:protocol}" '
        r"%{INT:status} %{NOTSPACE:bytes}"
    )


def q_grok_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok-style extraction (the north_star names "regex/grok"
    explicitly): a grok expression compiled to ONE engine-portable
    anchored regex, evaluated entirely JVM-side as codegen
    regexp_extract columns — the ad-hoc-format companion to the fixed
    Common/Combined single-pass Arrow parser. Malformed lines (2% of
    the corpus) surface as grok_match=false with empty fields; the
    oracle runs the IDENTICAL compiled regex through DuckDB's RE2."""
    from ..functions.grok import grok_extract

    lines = _spread(spark, _spark_lines(spark, sf_dir))
    pattern = (
        r"%{IPORHOST:remote_host} %{USER:ident} %{USER:user} "
        r"\[%{HTTPDATE:ts}\] "
        r'"%{WORD:method} %{NOTSPACE:path} %{NOTSPACE:protocol}" '
        r"%{INT:status} %{NOTSPACE:bytes}"
    )
    return grok_extract(lines, pattern, keep=["doc_id"])


def _grok_oracle_sql() -> str:
    regex, fields = _grok_common_parts()
    esc = regex.replace("'", "''")
    cols = ",\n       ".join(
        f"regexp_extract(line, '{esc}', {i + 1}) AS {f}" for i, f in enumerate(fields)
    )
    return f"""
WITH {_oracle_base()}
SELECT doc_id,
       {cols},
       regexp_matches(line, '{esc}') AS grok_match
FROM base
"""


SQL_GROK_COMMON = _grok_oracle_sql()



# ---------------------------------------------------------------------------
# Round 3b: as-of join, range join, multi-way join, chunking, hopping windows
# ---------------------------------------------------------------------------

_GROK_APP_PATTERN = (
    r"%{TIMESTAMP_ISO8601:ts_iso} %{LOGLEVEL:level} "
    r"\[%{WORD:svc}\] %{WORD:verb} %{URIPATH:path} took %{INT:ms}ms"
)


def _app_line_sql(dialect: str) -> str:
    """App-log line derived from events by identical arithmetic in both
    dialects (the grok companion to the NCSA line builder)."""
    f = _frags(dialect)
    iso = (
        "date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss\")"
        if dialect == "spark"
        else "strftime(ts, '%Y-%m-%dT%H:%M:%S')"
    )
    level = ("CASE WHEN event_type = 'error' THEN 'ERROR' "
             "WHEN value < 10 THEN 'DEBUG' ELSE 'INFO' END")
    ms = "CAST(CAST(floor(value * 10) AS BIGINT) AS VARCHAR)" if dialect != "spark" \
        else "CAST(CAST(floor(value * 10) AS BIGINT) AS STRING)"
    return (
        f"{iso} || ' ' || {level} || ' [' || event_type || '] ' || "
        f"{f['method']} || ' ' || {f['uri']} || ' took ' || {ms} || 'ms'"
    )


def q_grok_app_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second grok format — an ISO-8601 app log (level, service, verb,
    URI path, latency) — exercising the round-3 library additions
    (TIMESTAMP_ISO8601, URIPATH) over a non-NCSA line shape. Same
    engine-portable contract: the oracle replays the IDENTICAL compiled
    regex through DuckDB RE2."""
    from ..functions.grok import grok_extract

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = _spread(spark, ev.selectExpr(
        "'ev-' || CAST(event_id AS STRING) AS doc_id",
        f"{_app_line_sql('spark')} AS line",
    ))
    return grok_extract(lines, _GROK_APP_PATTERN, keep=["doc_id"])


def _grok_app_oracle_sql() -> str:
    from ..functions.grok import grok_to_regex

    regex, fields = grok_to_regex(_GROK_APP_PATTERN)
    esc = regex.replace("'", "''")
    cols = ",\n       ".join(
        f"regexp_extract(line, '{esc}', {i + 1}) AS {f}" for i, f in enumerate(fields)
    )
    return f"""
WITH base AS (
  SELECT 'ev-' || CAST(event_id AS VARCHAR) AS doc_id,
         {_app_line_sql('duck')} AS line
  FROM events
)
SELECT doc_id,
       {cols},
       regexp_matches(line, '{esc}') AS grok_match
FROM base
"""




def q_multiline_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline log assembly (Logstash multiline-codec semantics):
    continuation lines (leading whitespace — stack-trace frames) fold
    into their preceding anchor line, scoped per source stream. Pure
    JVM: running last(IGNORE NULLS) window for ownership + ordered
    array re-aggregation; the oracle re-derives the same blocks with
    IGNORE NULLS last_value + ordered string_agg in DuckDB."""
    from ..operators.multiline import assemble_multiline

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.selectExpr(
        "event_type AS source",
        "event_id",
        "CASE WHEN CAST(event_id % 5 AS INT) IN (3, 4) "
        "     THEN '    at frame-' || CAST(event_id AS STRING) "
        "     ELSE 'ERROR event ' || CAST(event_id AS STRING) || ' failed' END AS line",
    )
    return assemble_multiline(lines, group_col="source", id_col="event_id")


SQL_MULTILINE_ASSEMBLE = r"""
WITH lines AS (
  SELECT event_type AS source, event_id,
         CASE WHEN CAST(event_id % 5 AS INT) IN (3, 4)
              THEN '    at frame-' || CAST(event_id AS VARCHAR)
              ELSE 'ERROR event ' || CAST(event_id AS VARCHAR) || ' failed' END AS line
  FROM events
),
owned AS (
  SELECT *,
         last_value(CASE WHEN NOT regexp_matches(line, '^\s') THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY source ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS anchor_id
  FROM lines
)
SELECT source, anchor_id, COUNT(*) AS n_lines,
       string_agg(line, chr(10) ORDER BY event_id) AS assembled
FROM owned GROUP BY source, anchor_id
"""


def q_size_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-method p50/p90/p99 of response content_length —
    nearest-rank (PERCENTILE_DISC) semantics on the (method, size)
    census. Contrast with latency_percentiles above: Spark's
    `percentile()` buffers every value in the aggregation state (exact
    but memory-unbounded per group), while group_percentiles' only
    corpus-sized pass is a partial-aggregated census whose state is
    bounded by the VALUE RANGE — the exact-percentile plan that
    survives 10^12 rows per group."""
    parsed = _parsed(spark, sf_dir).filter(F.col("error_kind").isNull())
    return agg_op.group_percentiles(parsed, "method", "content_length")


SQL_SIZE_PERCENTILES = f"""
WITH {{base}},
ok AS (
  SELECT method, content_length AS v FROM expected
  WHERE error_kind IS NULL AND content_length IS NOT NULL
),
cen AS (SELECT method, v, count(*) AS n FROM ok GROUP BY method, v),
walked AS (
  SELECT method, v,
         sum(n) OVER (PARTITION BY method ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         sum(n) OVER (PARTITION BY method) AS t
  FROM cen
)
SELECT method, CAST(max(t) AS BIGINT) AS n,
       CAST(min(CASE WHEN c * 2 >= 1 * t THEN v END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN c * 10 >= 9 * t THEN v END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN c * 100 >= 99 * t THEN v END) AS BIGINT) AS p99
FROM walked GROUP BY method
""".format(base=_oracle_base())






QUERIES = {
    "parse_common": q_parse_common,
    "dead_letter": q_dead_letter,
    "enrich_status_class": q_enrich_status_class,
    "route_counts": q_route_counts,
    "agg_counts_hour": q_agg_counts_hour,
    "distinct_counts": q_distinct_counts,
    "latency_percentiles": q_latency_percentiles,
    "rollup_counts": q_rollup_counts,
    "token_roundtrip": q_token_roundtrip,
    "json_lines": q_json_lines,
    "json_roundtrip": q_json_roundtrip,
    "latency_percentiles_approx": q_latency_percentiles_approx,
    "grok_common": q_grok_common,
    "grok_app_log": q_grok_app_log,
    "multiline_assemble": q_multiline_assemble,
    "parse_combined": q_parse_combined,
    "enrich_ua_family": q_enrich_ua_family,
    "session_stats": q_session_stats,
    "session_window_stats": q_session_window_stats,
    "heavy_hitters": q_heavy_hitters,
    "size_percentiles": q_size_percentiles,
}

ORACLES = {
    "parse_common": SQL_PARSE_COMMON,
    "dead_letter": SQL_DEAD_LETTER,
    "enrich_status_class": SQL_ENRICH_STATUS_CLASS,
    "route_counts": SQL_ROUTE_COUNTS,
    "agg_counts_hour": SQL_AGG_COUNTS_HOUR,
    "distinct_counts": SQL_DISTINCT_COUNTS,
    "latency_percentiles": SQL_LATENCY_PERCENTILES,
    "rollup_counts": SQL_ROLLUP_COUNTS,
    "token_roundtrip": SQL_TOKEN_ROUNDTRIP,
    "json_lines": SQL_JSON_LINES,
    "json_roundtrip": SQL_JSON_ROUNDTRIP,
    "latency_percentiles_approx": SQL_LATENCY_PERCENTILES_APPROX,
    "grok_common": SQL_GROK_COMMON,
    "grok_app_log": _grok_app_oracle_sql(),
    "multiline_assemble": SQL_MULTILINE_ASSEMBLE,
    "parse_combined": SQL_PARSE_COMBINED,
    "enrich_ua_family": SQL_ENRICH_UA_FAMILY,
    "session_stats": SQL_SESSION_STATS,
    "session_window_stats": SQL_SESSION_WINDOW_STATS,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "size_percentiles": SQL_SIZE_PERCENTILES,
}
