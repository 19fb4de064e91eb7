"""Vectorized NCSA Common/Combined log-line parsing with redeye semantics.

Pure pandas/numpy — no Spark imports — so the semantic core is unit-testable
in microseconds and is exactly what the Arrow-batched mapInArrow parse
operator (operators.parse_op) executes per batch.

Reference semantics (all cites into /root/reference/src/redeye/):
  * regexes: parser.rs:122-134 (Common), parser.rs:257-271 (Combined) —
    transliterated exactly ([^\\s] == \\S, single \\s inside the quoted
    request, \\s+ between fields, anchored ^...$).
  * trim before parse: parser.rs:149,286.
  * "-" => field omitted (NULL here), never null-in-JSON: parser.rs:522-528.
  * int fields are u64: non-numeric or negative values reject the WHOLE
    line with ParseError: parser.rs:504-519.
  * timestamp format "%d/%b/%Y:%T %z" (parser.rs:27) parsed preserving the
    original UTC offset; re-emitted RFC-3339 (types.rs:130). A bad
    timestamp rejects the line with TimestampParseError (types.rs:35,
    chrono From impl types.rs:99-103).
  * field order inside the builder chain gives error precedence:
    timestamp (capture 4) is parsed before the int fields (captures 9,10)
    — parser.rs:154-166 — so a line with both a bad timestamp and a bad
    int reports TimestampParseError.
  * no-match => ParseError: parser.rs:328-334.
  * fixed fields "@version"="1" and message=trimmed line: parser.rs:27-28,
    164-165.
  * Combined referer / user-agent captures are ([^"]+): a literal "-"
    matches then is dropped as empty, but "" fails the whole line
    (parser.rs:269-270).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# Error kinds (types.rs:33-38). IoError cannot occur in this layer;
# SerializationError cannot occur with a fixed schema.
ERR_PARSE = "ParseError"
ERR_TIMESTAMP = "TimestampParseError"

FORMAT_COMMON = "common"
FORMAT_COMBINED = "combined"

# parser.rs:122-134 — groups: 1 host, 2 ident, 3 user, 4 ts, 5 full request,
# 6 method, 7 uri, 8 protocol, 9 status, 10 bytes.
PATTERN_COMMON = re.compile(
    r"^(\S+)\s+"
    r"(\S+)\s+"
    r"(\S+)\s+"
    r"\[(.+)\]\s+"
    r"\"((\S+)\s(\S+)\s(\S+))\"\s+"
    r"(\S+)\s+"
    r"(\S+)$"
)

# parser.rs:257-271 — same 10 groups + 11 referer, 12 user-agent.
PATTERN_COMBINED = re.compile(
    r"^(\S+)\s+"
    r"(\S+)\s+"
    r"(\S+)\s+"
    r"\[(.+)\]\s+"
    r"\"((\S+)\s(\S+)\s(\S+))\"\s+"
    r"(\S+)\s+"
    r"(\S+)\s+"
    r"\"([^\"]+)\"\s+"
    r"\"([^\"]+)\"$"
)

_GROUPS_COMMON = [
    "remote_host",
    "ident",
    "remote_user",
    "_ts_raw",
    "requested_url",
    "method",
    "requested_uri",
    "protocol",
    "_status_raw",
    "_length_raw",
]
_GROUPS_COMBINED = _GROUPS_COMMON + ["referer", "user_agent"]

TS_FORMAT = "%d/%b/%Y:%H:%M:%S %z"  # parser.rs:27 (%T == %H:%M:%S)
OUTPUT_VERSION = "1"  # parser.rs:28

# u64::MAX == 18446744073709551615. Rust's u64 FromStr accepts an optional
# leading '+' and any number of digits within range (parser.rs:512-514).
_U64_RE = r"\+?[0-9]{1,20}"
_I64_MAX = 2**63 - 1

_OFFSET_RE = r"(?:([+-])(\d{2}):?(\d{2})|([Zz]))\s*$"


def _dash_null(s: pd.Series) -> pd.Series:
    """'-' => missing (parser.rs:522-528). Distinct from a failed capture."""
    return s.where(s != "-")


def _parse_u64(raw: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Return (Int64 values, bool error mask) with Rust u64-parse semantics.

    raw is already dash-nulled. Values that parse as u64 but exceed i64::MAX
    are flagged as errors (documented deviation: Spark LongType is i64; real
    content lengths never approach 2^63).
    """
    valid = raw.str.fullmatch(_U64_RE).fillna(False).astype(bool)
    vals = pd.to_numeric(raw.where(valid), errors="coerce")
    # 19-20 digit strings can overflow/lose precision through float;
    # re-check exactly with Python ints only for those rare rows.
    long_mask = valid & (raw.str.lstrip("+").str.len() > 18).fillna(False)
    if long_mask.any():
        exact = raw[long_mask].map(int)  # tiny row count; cold path
        ok = exact <= _I64_MAX
        vals = vals.astype("object")
        vals[long_mask] = exact.where(ok)
        valid = valid & ~(long_mask & ~ok.reindex(valid.index, fill_value=False))
    err = raw.notna() & ~valid
    return pd.to_numeric(vals.where(valid), errors="coerce").astype("Int64"), err


# Strict positional layout of TS_FORMAT: one extract yields every
# component, so the hot path never calls strptime/strftime.
_TS_COMPONENT_RE = (
    r"^(\d{2})/(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)/(\d{4}):"
    r"(\d{2}):(\d{2}):(\d{2}) ([+-])(\d{2}):?(\d{2})$"
)
_MONTHS = {m: i + 1 for i, m in enumerate(
    ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}
_MONTH_STR = {m: f"{i:02d}" for m, i in _MONTHS.items()}


def _parse_timestamp(raw: pd.Series) -> tuple[pd.Series, pd.Series, pd.Series]:
    """Return (utc_instant, rfc3339_str_with_original_offset, error mask).

    raw is already dash-nulled. Fast path: ONE component regex extract,
    then numeric datetime assembly (pd.to_datetime on a fields dict —
    vectorized ints, no string strptime) and pure string concatenation
    for the RFC-3339 form, preserving the per-row offset (chrono
    to_rfc3339, types.rs:130). Rows that miss the strict-positional
    layout but are non-null fall back to lenient strptime (chrono's %d
    accepts unpadded days, %z accepts 'Z'); invalid dates (Feb 30) are
    rejected by the numeric assembly returning NaT.
    """
    c = raw.str.extract(_TS_COMPONENT_RE)
    c.columns = ["dd", "mon", "yyyy", "hh", "mi", "ss", "osign", "ohh", "omm"]

    month_num = c["mon"].map(_MONTHS)
    fields = pd.DataFrame(
        {
            "year": pd.to_numeric(c["yyyy"], errors="coerce"),
            "month": month_num,
            "day": pd.to_numeric(c["dd"], errors="coerce"),
            "hour": pd.to_numeric(c["hh"], errors="coerce"),
            "minute": pd.to_numeric(c["mi"], errors="coerce"),
            "second": pd.to_numeric(c["ss"], errors="coerce"),
        }
    )
    # chrono %H/%M/%S ranges: dict-assembly validates the DATE (Feb 30 ->
    # NaT) but rolls out-of-range times into the next day — reject them
    # here (they fall to the strict strptime fallback, which errors).
    in_range = (
        (fields["hour"] <= 23) & (fields["minute"] <= 59) & (fields["second"] <= 59)
    ).fillna(False)
    fast = c["dd"].notna() & in_range
    # NA rows (null / non-fast) get placeholder fields, masked right after
    # (the dict-assembly path rejects NA ints outright).
    filled = fields.fillna({"year": 1970, "month": 1, "day": 1, "hour": 0, "minute": 0, "second": 0})
    wall = pd.to_datetime(filled, errors="coerce", utc=True).where(fast)  # numeric path
    neg = (c["osign"] == "-").fillna(False).astype(bool).to_numpy()
    off_min = (
        pd.to_numeric(c["ohh"], errors="coerce") * 60 + pd.to_numeric(c["omm"], errors="coerce")
    ) * np.where(neg, -1, 1)
    utc = wall - pd.to_timedelta(off_min, unit="m")

    ts_str = (
        c["yyyy"] + "-"
        + c["mon"].map(_MONTH_STR)  # 12 distinct values
        + "-" + c["dd"] + "T" + c["hh"] + ":" + c["mi"] + ":" + c["ss"]
        + c["osign"] + c["ohh"] + ":" + c["omm"]
    )

    # Lenient fallback for rare layout variants the strict regex misses.
    slow = raw.notna() & ~fast
    if slow.any():
        utc_slow = pd.to_datetime(raw[slow], format=TS_FORMAT, errors="coerce", utc=True)
        ok_slow = utc_slow.notna()
        if ok_slow.any():
            idx = utc_slow.index[ok_slow]
            utc = utc.astype("object")
            utc[idx] = utc_slow[ok_slow]
            utc = pd.to_datetime(utc, errors="coerce", utc=True)
            off = raw[idx].str.extract(_OFFSET_RE)
            z = off[3].notna()
            sign = off[0].where(~z, "+")
            ohh = off[1].where(~z, "00")
            omm = off[2].where(~z, "00")
            omin = (pd.to_numeric(ohh, errors="coerce") * 60 + pd.to_numeric(omm, errors="coerce")) * np.where(
                (sign == "-").fillna(False).astype(bool).to_numpy(), -1, 1
            )
            local = utc_slow[ok_slow] + pd.to_timedelta(omin, unit="m")
            ts_str = ts_str.astype("string")
            ts_str[idx] = (
                local.dt.strftime("%Y-%m-%dT%H:%M:%S").astype("string")
                + sign.astype("string") + ohh.astype("string") + ":" + omm.astype("string")
            )

    err = raw.notna() & utc.isna()
    ts_str = pd.Series(ts_str, index=raw.index, dtype="string").where(~err & raw.notna())
    utc = utc.where(~err)
    return utc, ts_str, err


def parse_lines_pandas(lines: pd.Series, fmt: str = FORMAT_COMMON) -> pd.DataFrame:
    """Reference implementation of the batch parse (pure pandas).

    Semantically exact (Unicode-aware \\s via Python re, like Rust's regex
    crate); used to cross-check the pyarrow fast path and as fallback.

    Returns a DataFrame with columns: remote_host ident remote_user
    timestamp timestamp_str requested_url method requested_uri protocol
    status_code content_length referer user_agent version message
    error_kind. On error rows every parsed field is NULL (redeye discards
    the line, src/bin/redeye.rs:56-65,82-89); message keeps the trimmed
    line for the dead-letter route and error_kind carries the taxonomy.
    """
    if fmt == FORMAT_COMBINED:
        pat, groups = PATTERN_COMBINED, _GROUPS_COMBINED
    elif fmt == FORMAT_COMMON:
        pat, groups = PATTERN_COMMON, _GROUPS_COMMON
    else:  # parser dispatch mirrors the CLI flag check, src/bin/redeye.rs:70-77
        raise ValueError(f"unknown log format: {fmt!r}")

    lines = lines.astype("string").reset_index(drop=True)
    trimmed = lines.str.strip()  # parser.rs:149,286
    ext = trimmed.str.extract(pat)
    ext.columns = groups

    # Group 1 is \S+ (never empty), so a NaN there means the regex did not
    # match (parser.rs:328-334).
    nomatch = ext["remote_host"].isna() & trimmed.notna()

    for c in groups:
        ext[c] = _dash_null(ext[c])

    ts_utc, ts_str, ts_err = _parse_timestamp(ext["_ts_raw"])
    status, status_err = _parse_u64(ext["_status_raw"])
    length, length_err = _parse_u64(ext["_length_raw"])

    # Precedence: regex no-match > timestamp (capture 4 parsed first,
    # parser.rs:157) > int fields (captures 9-10, parser.rs:162-163).
    error_kind = pd.Series(pd.NA, index=trimmed.index, dtype="string")
    error_kind[(status_err | length_err) & ~nomatch] = ERR_PARSE
    error_kind[ts_err & ~nomatch] = ERR_TIMESTAMP
    error_kind[nomatch] = ERR_PARSE
    ok = error_kind.isna()

    if fmt == FORMAT_COMBINED:
        referer = ext["referer"]
        user_agent = ext["user_agent"]
    else:
        referer = pd.Series(pd.NA, index=trimmed.index, dtype="string")
        user_agent = pd.Series(pd.NA, index=trimmed.index, dtype="string")

    out = pd.DataFrame(
        {
            "remote_host": ext["remote_host"].where(ok),
            "ident": ext["ident"].where(ok),
            "remote_user": ext["remote_user"].where(ok),
            "timestamp": ts_utc.where(ok),
            "timestamp_str": ts_str.where(ok),
            "requested_url": ext["requested_url"].where(ok),
            "method": ext["method"].where(ok),
            "requested_uri": ext["requested_uri"].where(ok),
            "protocol": ext["protocol"].where(ok),
            "status_code": status.where(ok),
            "content_length": length.where(ok),
            "referer": referer.where(ok),
            "user_agent": user_agent.where(ok),
            "version": pd.Series(OUTPUT_VERSION, index=trimmed.index, dtype="string").where(ok),
            "message": trimmed,  # parser.rs:165,306 — the TRIMMED line
            "error_kind": error_kind,
        }
    )
    return out


def event_to_json_dict(row: pd.Series) -> dict:
    """One parsed row -> the redeye JSON object (test helper, per-row OK).

    Reproduces key naming ("@timestamp", "@version", nested
    request_headers with literal key "user-agent" — parser.rs:301-304) and
    key-omission of NULLs / all-empty mappings (parser.rs:447-452).
    """
    if not pd.isna(row.get("error_kind")):
        raise ValueError(f"row is an error row: {row['error_kind']}")
    out: dict = {}
    plain = [
        ("remote_host", "remote_host"),
        ("ident", "ident"),
        ("remote_user", "remote_user"),
        ("timestamp_str", "@timestamp"),
        ("requested_url", "requested_url"),
        ("method", "method"),
        ("requested_uri", "requested_uri"),
        ("protocol", "protocol"),
    ]
    for col, key in plain:
        v = row.get(col)
        if not pd.isna(v):
            out[key] = v
    for col, key in [("status_code", "status_code"), ("content_length", "content_length")]:
        v = row.get(col)
        if not pd.isna(v):
            out[key] = int(v)
    headers = {}
    if not pd.isna(row.get("referer")):
        headers["referer"] = row["referer"]
    if not pd.isna(row.get("user_agent")):
        headers["user-agent"] = row["user_agent"]
    if headers:  # all-empty mapping omitted entirely, parser.rs:447-452
        out["request_headers"] = headers
    out["@version"] = row["version"]
    out["message"] = row["message"]
    return out


# ---------------------------------------------------------------------------
# pyarrow fast path: RE2-vectorized extraction + numeric timestamp assembly.
# Same semantics as parse_lines_pandas with ONE documented deviation: RE2's
# \s is ASCII-only while Rust regex's \s is Unicode White_Space — lines whose
# field separators are non-ASCII whitespace (never produced by real access
# logs) parse as single fields here. Cross-checked against the pandas
# reference implementation in tests.
# ---------------------------------------------------------------------------

import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402

_RE2_COMMON = (
    r"^(?P<remote_host>\S+)\s+(?P<ident>\S+)\s+(?P<remote_user>\S+)\s+"
    r"\[(?P<_ts_raw>.+)\]\s+"
    r"\"(?P<requested_url>(?P<method>\S+)\s(?P<requested_uri>\S+)\s(?P<protocol>\S+))\"\s+"
    r"(?P<_status_raw>\S+)\s+(?P<_length_raw>\S+)$"
)
_RE2_COMBINED = _RE2_COMMON[:-1] + r"\s+\"(?P<referer>[^\"]+)\"\s+\"(?P<user_agent>[^\"]+)\"$"

_RE2_TS = (
    r"^(?P<dd>\d{2})/(?P<mon>Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)/(?P<yyyy>\d{4}):"
    r"(?P<hh>\d{2}):(?P<mi>\d{2}):(?P<ss>\d{2}) (?P<osign>[+-])(?P<ohh>\d{2}):?(?P<omm>\d{2})$"
)
_RE2_U64 = r"^\+?[0-9]{1,18}$"  # fast path; longer digit runs go exact/python

_MONTH_ARR = pa.array(list(_MONTHS.keys()), type=pa.string())
_MONTH_STR_ARR = pa.array([_MONTH_STR[m] for m in _MONTHS], type=pa.string())
_DAYS_IN_MONTH = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31], dtype=np.int64)


def _civil_to_days(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Days since 1970-01-01 from proleptic-Gregorian civil date
    (Howard Hinnant's algorithm, fully vectorized)."""
    y = y - (m <= 2)
    era = np.floor_divide(y, 400)
    yoe = y - era * 400
    doy = (153 * (m + np.where(m > 2, -3, 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _ts_from_components(ts_field: pa.Array) -> tuple[np.ndarray, pa.Array, np.ndarray]:
    """(utc epoch MICROSECONDS int64, rfc3339 string array, component-ok
    mask) — arrow/numpy end to end, no pandas materialization (the
    mapInArrow parse path consumes these directly). epoch and ts_str
    are meaningful only where comp_ok is True.

    Entirely numeric: no strptime/strftime anywhere. Range validation
    matches chrono: day within month (leap-aware), hour<=23, min/sec<=59.
    """
    e = pc.extract_regex(ts_field, _RE2_TS)
    comp_ok_arr = e.is_valid()
    f = {name: pc.struct_field(e, name) for name in
         ["dd", "mon", "yyyy", "hh", "mi", "ss", "osign", "ohh", "omm"]}

    def ints(name):
        return pc.cast(f[name], pa.int64()).to_numpy(zero_copy_only=False)

    with np.errstate(invalid="ignore"):
        dd, yyyy, hh, mi, ss = (np.nan_to_num(ints(n), nan=1).astype(np.int64)
                                for n in ["dd", "yyyy", "hh", "mi", "ss"])
    mon_idx = pc.index_in(f["mon"], value_set=_MONTH_ARR)
    mon = np.nan_to_num(mon_idx.to_numpy(zero_copy_only=False), nan=0).astype(np.int64) + 1

    leap = ((yyyy % 4 == 0) & (yyyy % 100 != 0)) | (yyyy % 400 == 0)
    dim = _DAYS_IN_MONTH[mon] + (leap & (mon == 2))
    in_range = (dd >= 1) & (dd <= dim) & (hh <= 23) & (mi <= 59) & (ss <= 59)
    comp_ok = comp_ok_arr.to_numpy(zero_copy_only=False) & in_range

    off_min = (
        np.nan_to_num(ints("ohh"), nan=0).astype(np.int64) * 60
        + np.nan_to_num(ints("omm"), nan=0).astype(np.int64)
    ) * np.where(pc.equal(f["osign"], "-").to_numpy(zero_copy_only=False) == True, -1, 1)  # noqa: E712

    epoch = (
        _civil_to_days(yyyy, mon, dd) * 86400 + hh * 3600 + mi * 60 + ss - off_min * 60
    )

    mm_str = pc.take(_MONTH_STR_ARR, mon_idx)
    ts_str_arr = pc.binary_join_element_wise(
        f["yyyy"], "-", mm_str, "-", f["dd"], "T", f["hh"], ":", f["mi"], ":", f["ss"],
        f["osign"], f["ohh"], ":", f["omm"], "",
    )
    return epoch * 1_000_000, ts_str_arr, comp_ok


def _u64_arrow(field: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """(int64 arrow array, error mask) with Rust u64 semantics."""
    dashless = pc.if_else(pc.equal(field, "-"), pa.scalar(None, pa.string()), field)
    fast_ok = pc.match_substring_regex(dashless, _RE2_U64)
    # arrow's string->int cast rejects a leading '+' (the regex already
    # guarantees at most one)
    digits = pc.utf8_ltrim(dashless, "+")
    vals_arr = pc.cast(pc.if_else(fast_ok, digits, pa.scalar(None, pa.string())), pa.int64())
    present = dashless.is_valid().to_numpy(zero_copy_only=False)
    ok = np.asarray(fast_ok.fill_null(False))
    err = present & ~ok
    if err.any():
        # exact re-check for >18-digit candidates (u64 up to 2^64-1; values
        # above i64::MAX are flagged, documented deviation). Rare branch:
        # goes through python ints row-wise for exactness, then rebuilds
        # the arrow array (a float64 round trip would silently round
        # values in (2^53, 2^63)).
        slow = pd.Series(dashless.to_pandas())[err]
        good = slow.str.fullmatch(_U64_RE).fillna(False)
        patched = {i: int(v) for i, v in slow[good].items() if int(v) <= _I64_MAX}
        if patched:
            base = vals_arr.to_pylist()
            for i, iv in patched.items():
                base[i] = iv
                err[i] = False
            vals_arr = pa.array(base, type=pa.int64())
    return vals_arr, err


_TS_US = pa.timestamp("us", tz="UTC")


def parse_lines_arrow(lines, fmt: str = FORMAT_COMMON) -> dict[str, pa.Array]:
    """Parse a batch of raw log lines into the redeye superset schema,
    ARROW-NATIVE: returns an ordered {column: pa.Array} dict with no
    pandas materialization anywhere on the fast path (guide §4.2 — a
    million-row batch otherwise allocates ~14 Python objects per row
    just to cross back into the JVM). ``parse_lines`` is the thin
    pandas adapter over this core; the mapInArrow parse operators
    consume the dict directly. Semantics and reference citations as in
    the module docstring.
    """
    if fmt == FORMAT_COMBINED:
        pat = _RE2_COMBINED
        names = _GROUPS_COMBINED
    elif fmt == FORMAT_COMMON:
        pat = _RE2_COMMON
        names = _GROUPS_COMMON
    else:
        raise ValueError(f"unknown log format: {fmt!r}")

    if isinstance(lines, (pa.Array, pa.ChunkedArray)):
        arr = lines if isinstance(lines, pa.Array) else lines.combine_chunks()
    else:
        arr = pa.array(pd.Series(lines), type=pa.string(), from_pandas=True)
    n = len(arr)
    trimmed = pc.utf8_trim_whitespace(arr)  # parser.rs:149,286
    ext = pc.extract_regex(trimmed, pat)
    input_valid = trimmed.is_valid().to_numpy(zero_copy_only=False)
    nomatch = ~np.asarray(ext.is_valid()) & input_valid  # parser.rs:328-334

    null_str = pa.scalar(None, pa.string())
    fields = {}
    for name in names:
        v = pc.struct_field(ext, name)
        fields[name] = pc.if_else(pc.equal(v, "-"), null_str, v)  # parser.rs:522-528

    epoch_us, ts_str_arr, comp_ok = _ts_from_components(fields["_ts_raw"])
    ts_present = fields["_ts_raw"].is_valid().to_numpy(zero_copy_only=False)
    ts_err = ts_present & ~comp_ok
    if ts_err.any():
        # lenient fallback (unpadded day, 'Z' offset) through the pandas
        # reference path for the handful of rows RE2's strict layout missed
        raw_slow = pd.Series(fields["_ts_raw"].to_pandas())[ts_err]
        utc_f, str_f, err_f = _parse_timestamp(raw_slow.astype("string"))
        fixed = ~err_f & utc_f.notna()
        if fixed.any():
            idxs = utc_f.index[fixed].to_numpy()
            epoch_us = epoch_us.copy()
            epoch_us[idxs] = (
                pd.to_datetime(utc_f[fixed], utc=True).astype("int64") // 1000
            ).to_numpy()
            comp_ok = comp_ok.copy()
            comp_ok[idxs] = True
            ts_err[idxs] = False
            s = pd.Series(ts_str_arr.to_pandas())
            s[str_f.index[fixed]] = str_f[fixed]
            ts_str_arr = pa.array(s, type=pa.string(), from_pandas=True)

    status, status_err = _u64_arrow(pc.struct_field(ext, "_status_raw"))
    length, length_err = _u64_arrow(pc.struct_field(ext, "_length_raw"))

    # Precedence: no-match > timestamp (capture 4, parser.rs:157) > ints.
    ints_err = (status_err | length_err) & ~nomatch
    tse = ts_err & ~nomatch
    ok_np = ~(nomatch | tse | ints_err)
    ok = pa.array(ok_np)
    err_parse = pa.scalar(ERR_PARSE, pa.string())
    error_kind = pc.if_else(
        pa.array(nomatch), err_parse,
        pc.if_else(
            pa.array(tse), pa.scalar(ERR_TIMESTAMP, pa.string()),
            pc.if_else(pa.array(ints_err), err_parse, null_str),
        ),
    )

    def col(name):
        if name in fields:
            return pc.if_else(ok, fields[name], null_str)
        return pa.nulls(n, pa.string())

    ts_arr = pc.if_else(
        pa.array(ok_np & comp_ok),
        pa.array(epoch_us, type=pa.int64()).cast(pa.timestamp("us")).cast(_TS_US),
        pa.scalar(None, _TS_US),
    )
    ts_str_masked = pc.if_else(pa.array(ok_np & comp_ok), ts_str_arr, null_str)

    return {
        "remote_host": col("remote_host"),
        "ident": col("ident"),
        "remote_user": col("remote_user"),
        "timestamp": ts_arr,
        "timestamp_str": ts_str_masked,
        "requested_url": col("requested_url"),
        "method": col("method"),
        "requested_uri": col("requested_uri"),
        "protocol": col("protocol"),
        "status_code": pc.if_else(ok, status, pa.scalar(None, pa.int64())),
        "content_length": pc.if_else(ok, length, pa.scalar(None, pa.int64())),
        "referer": col("referer"),
        "user_agent": col("user_agent"),
        "version": pc.if_else(ok, pa.scalar(OUTPUT_VERSION, pa.string()), null_str),
        "message": trimmed,  # parser.rs:165,306
        "error_kind": error_kind,
    }


def parse_lines(lines, fmt: str = FORMAT_COMMON) -> pd.DataFrame:
    """Parse a batch of raw log lines into the redeye superset schema.

    Accepts a pandas Series or a pyarrow StringArray. Thin pandas
    adapter over ``parse_lines_arrow`` (single source of truth); output
    columns/semantics match parse_lines_pandas exactly — nullable-int
    columns are rebuilt as masked Int64 straight from the int64 buffer
    (a float64 round trip would silently round values in (2^53, 2^63)).
    """
    cols = parse_lines_arrow(lines, fmt)

    def to_pd(name: str, a: pa.Array):
        if name in ("status_code", "content_length"):
            mask = ~np.asarray(a.is_valid())
            ints = a.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            return pd.Series(pd.arrays.IntegerArray(ints, mask))
        if name == "timestamp":
            return pd.Series(a.to_pandas()).dt.tz_convert("UTC")
        return pd.Series(a.to_pandas())

    return pd.DataFrame({name: to_pd(name, a) for name, a in cols.items()})
