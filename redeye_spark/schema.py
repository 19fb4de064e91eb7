"""Schemas for the redeye_spark pipeline.

The parsed-event schema is the fixed superset of every field either redeye
parser can emit (reference: parser.rs:154-166 for Common, parser.rs:291-307
for Combined; value model types.rs:116-121). redeye builds a dynamic
HashMap per line; because the union of fields is statically known we use a
fixed nullable StructType instead — absent (`-`) becomes SQL NULL and is
dropped again at JSON-serialization time, reproducing redeye's
key-omission semantics (parser.rs:522-528).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: pre-tokenized training sequences (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
RAW_SEQUENCES = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# Raw log lines with provenance (doc_id = <file>#<physical line>)
LINES = T.StructType([T.StructField(c, T.StringType(), False) for c in ("doc_id", "source", "line")])

# ---------------------------------------------------------------------------
# Parsed events: carried-through input cols + union of both parsers' fields.
# error_kind mirrors redeye's error taxonomy (types.rs:33-38): NULL = ok,
# 'ParseError' | 'TimestampParseError' = row routed to dead-letter.
# ---------------------------------------------------------------------------
_PARSE_FIELDS = [
    T.StructField("remote_host", T.StringType(), True),
    T.StructField("ident", T.StringType(), True),
    T.StructField("remote_user", T.StringType(), True),
    # UTC instant for time-bucketed aggregation. The JSON "@timestamp" is
    # timestamp_str (RFC-3339 preserving the per-row original UTC offset,
    # types.rs:130 to_rfc3339) — Spark TimestampType normalizes to session
    # TZ and would lose the offset, so the string is computed in the UDF.
    T.StructField("timestamp", T.TimestampType(), True),
    T.StructField("timestamp_str", T.StringType(), True),
    T.StructField("requested_url", T.StringType(), True),
    T.StructField("method", T.StringType(), True),
    T.StructField("requested_uri", T.StringType(), True),
    T.StructField("protocol", T.StringType(), True),
    T.StructField("status_code", T.LongType(), True),
    T.StructField("content_length", T.LongType(), True),
    T.StructField("referer", T.StringType(), True),
    T.StructField("user_agent", T.StringType(), True),  # JSON key "user-agent"
    T.StructField("version", T.StringType(), True),  # "@version" = "1"
    T.StructField("message", T.StringType(), True),  # trimmed input line
    T.StructField("error_kind", T.StringType(), True),
]


def parsed_schema(carry_tokens: bool = True) -> T.StructType:
    """Schema of the parse operator's output (operators.parse_op.parse).

    carry_tokens=False drops the token array after parsing — at 10^12-row
    scale carrying the raw bytes through enrich/route doubles shuffle and
    sink volume; the token-equality invariant is then checked inside the
    parse hop (parse(..., validate=True)) instead of being carried through
    the pipeline.
    """
    carried = [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
    if carry_tokens:
        carried.append(T.StructField("tokens", T.ArrayType(T.IntegerType()), True))
    return T.StructType(carried + _PARSE_FIELDS)


# Pandas-side column order must match the Spark schema order.
def parsed_columns(carry_tokens: bool = True) -> list[str]:
    return [f.name for f in parsed_schema(carry_tokens).fields]


# ---------------------------------------------------------------------------
# Dimension tables for broadcast enrichment (FIXTURES.md §1.2)
# ---------------------------------------------------------------------------
DIM_STATUS_CLASS = T.StructType(
    [
        T.StructField("status_code", T.LongType(), False),
        T.StructField("status_class", T.StringType(), False),
    ]
)

DIM_UA_FAMILY = T.StructType(
    [
        T.StructField("ua_token", T.StringType(), False),
        T.StructField("ua_family", T.StringType(), False),
    ]
)

DIM_SOURCE_META = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("region", T.StringType(), False),
        T.StructField("tier", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Per-sink aggregate counts (FIXTURES.md §1.4)
# ---------------------------------------------------------------------------
AGG_COUNTS = T.StructType(
    [
        T.StructField("sink", T.StringType(), False),
        T.StructField("bucket", T.TimestampType(), True),
        T.StructField("status_class", T.StringType(), True),
        T.StructField("method", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n", T.LongType(), False),
    ]
)
