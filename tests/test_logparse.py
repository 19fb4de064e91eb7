"""Port of the reference parser unit tests + README golden cases to the
vectorized pandas core (no Spark needed — runs in milliseconds).

Fixture provenance: /root/reference/src/redeye/parser.rs:530-934 and
/root/reference/README.md:43-90; matrices catalogued in FIXTURES.md §2.
"""

import numpy as np
import pandas as pd
import pytest

from redeye_spark.functions.logparse import (
    ERR_PARSE,
    ERR_TIMESTAMP,
    FORMAT_COMBINED,
    FORMAT_COMMON,
    event_to_json_dict,
    parse_lines,
    parse_lines_pandas,
)
from redeye_spark.functions import tokens as tok

COMMON_LINE = '127.0.0.1 - frank [11/Oct/2000:13:55:36 -0700] "GET /index.html HTTP/1.0" 200 2326'
COMBINED_LINE = (
    '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /index.html HTTP/1.0" 200 2326 '
    '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
)


def parse_one(line, fmt=FORMAT_COMMON):
    return parse_lines(pd.Series([line]), fmt).iloc[0]


class TestCommonParser:
    # parser.rs:541-593
    def test_full_happy_path(self):
        r = parse_one(COMMON_LINE)
        assert pd.isna(r["error_kind"])
        assert r["remote_host"] == "127.0.0.1"
        assert pd.isna(r["ident"])  # '-' => absent, parser.rs:570
        assert r["remote_user"] == "frank"
        assert r["timestamp_str"] == "2000-10-11T13:55:36-07:00"
        assert r["requested_url"] == "GET /index.html HTTP/1.0"
        assert r["method"] == "GET"
        assert r["requested_uri"] == "/index.html"
        assert r["protocol"] == "HTTP/1.0"
        assert r["status_code"] == 200
        assert r["content_length"] == 2326
        assert r["version"] == "1"
        assert r["message"] == COMMON_LINE
        # UTC instant: 13:55:36 -0700 == 20:55:36 UTC
        assert r["timestamp"] == pd.Timestamp("2000-10-11T20:55:36", tz="UTC")

    def test_trim_and_message_is_trimmed(self):
        # parser.rs:149,165; trait doc parser.rs:33-34
        r = parse_one("   " + COMMON_LINE + "  \t ")
        assert pd.isna(r["error_kind"])
        assert r["message"] == COMMON_LINE

    def test_multiple_spaces_between_fields_legal(self):
        # \s+ separators, parser.rs:123-133
        line = '127.0.0.1  -   frank  [11/Oct/2000:13:55:36 -0700]  "GET /index.html HTTP/1.0"  200  2326'
        r = parse_one(line)
        assert pd.isna(r["error_kind"])
        assert r["status_code"] == 200

    def test_single_space_required_inside_request(self):
        # inside quotes the separators are single \s (parser.rs:128-130)
        line = '127.0.0.1 - frank [11/Oct/2000:13:55:36 -0700] "GET  /index.html HTTP/1.0" 200 2326'
        r = parse_one(line)
        assert r["error_kind"] == ERR_PARSE

    def test_no_match_parse_error(self):
        # parser.rs:598-607 + FIXTURES §2.5
        for line in ["", "not a log line", "   "]:
            r = parse_one(line)
            assert r["error_kind"] == ERR_PARSE, line
            assert pd.isna(r["remote_host"])

    def test_trailing_garbage_rejected(self):
        # $-anchored, parser.rs:133
        r = parse_one(COMMON_LINE + " extra")
        assert r["error_kind"] == ERR_PARSE

    def test_all_dash_fields_absent(self):
        line = '127.0.0.1 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" - -'
        r = parse_one(line)
        assert pd.isna(r["error_kind"])
        for f in ["ident", "remote_user", "status_code", "content_length"]:
            assert pd.isna(r[f]), f

    def test_timestamp_dash_absent(self):
        # parser.rs:670-685: [-] => @timestamp omitted, line still OK
        line = '127.0.0.1 - frank [-] "GET / HTTP/1.0" 200 10'
        r = parse_one(line)
        assert pd.isna(r["error_kind"])
        assert pd.isna(r["timestamp"]) and pd.isna(r["timestamp_str"])
        assert r["status_code"] == 200

    def test_timestamp_bad_format_rejects_line(self):
        # parser.rs:816-825 => TimestampParseError
        line = '127.0.0.1 - frank [asdf] "GET / HTTP/1.0" 200 10'
        r = parse_one(line)
        assert r["error_kind"] == ERR_TIMESTAMP
        assert pd.isna(r["status_code"])  # whole line discarded

    def test_timestamp_offset_preserved(self):
        # parser.rs:645-668: offset -07:00; README: -04:00
        cases = {
            "-0700": "-07:00",
            "+0000": "+00:00",
            "+0530": "+05:30",
            "-0430": "-04:30",
        }
        for off, suffix in cases.items():
            line = f'1.2.3.4 - - [11/Oct/2000:13:55:36 {off}] "GET / HTTP/1.0" 200 10'
            r = parse_one(line)
            assert pd.isna(r["error_kind"])
            assert r["timestamp_str"].endswith(suffix), (off, r["timestamp_str"])
            assert r["timestamp_str"].startswith("2000-10-11T13:55:36")

    def test_int_bad_rejects_line(self):
        # parser.rs:909-919; u64 => "-1" also rejects (parser.rs:512-514)
        for bad in ["asdf", "-1", "1.5", "0x10"]:
            line = f'127.0.0.1 - frank [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" {bad} 10'
            r = parse_one(line)
            assert r["error_kind"] == ERR_PARSE, bad

    def test_int_plus_sign_accepted(self):
        # Rust u64 FromStr accepts leading '+'
        line = '127.0.0.1 - frank [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" +200 10'
        r = parse_one(line)
        assert pd.isna(r["error_kind"])
        assert r["status_code"] == 200

    def test_timestamp_error_precedence_over_int(self):
        # builder order: add_timestamp_field(4) before add_int_field(9),
        # parser.rs:157-162 — both bad => TimestampParseError
        line = '127.0.0.1 - frank [nope] "GET / HTTP/1.0" abc 10'
        r = parse_one(line)
        assert r["error_kind"] == ERR_TIMESTAMP

    def test_big_u64_content_length(self):
        line = '1.2.3.4 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 9223372036854775807'
        r = parse_one(line)
        assert pd.isna(r["error_kind"])
        assert r["content_length"] == 9223372036854775807


class TestCombinedParser:
    # doctest parser.rs:230-247 / docs parser.rs:188-211
    def test_full_happy_path(self):
        r = parse_one(COMBINED_LINE, FORMAT_COMBINED)
        assert pd.isna(r["error_kind"])
        assert r["referer"] == "http://www.example.com/start.html"
        assert r["user_agent"] == "Mozilla/4.08 [en] (Win98; I ;Nav)"
        assert r["timestamp_str"] == "2000-10-10T13:55:36-07:00"
        assert r["status_code"] == 200
        assert r["message"] == COMBINED_LINE

    def test_dash_headers_absent(self):
        # "-" inside quotes parses then drops (parser.rs:522-528)
        line = '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 10 "-" "-"'
        r = parse_one(line, FORMAT_COMBINED)
        assert pd.isna(r["error_kind"])
        assert pd.isna(r["referer"]) and pd.isna(r["user_agent"])

    def test_empty_quotes_reject_line(self):
        # ([^"]+) requires >=1 char (parser.rs:269-270) — FIXTURES §2.5
        for tail in ['"" "UA"', '"ref" ""', '"" ""']:
            line = f'127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 10 {tail}'
            r = parse_one(line, FORMAT_COMBINED)
            assert r["error_kind"] == ERR_PARSE, tail

    def test_common_line_fed_to_combined_rejects(self):
        r = parse_one(COMMON_LINE, FORMAT_COMBINED)
        assert r["error_kind"] == ERR_PARSE

    def test_combined_line_fed_to_common_rejects(self):
        # trailing quoted headers are garbage for the $-anchored common regex
        r = parse_one(COMBINED_LINE, FORMAT_COMMON)
        assert r["error_kind"] == ERR_PARSE


class TestJsonShape:
    def test_common_json_matches_reference_doc(self):
        # parser.rs:65-79 golden JSON
        r = parse_one(COMMON_LINE.replace("11/Oct", "10/Oct"))
        d = event_to_json_dict(r)
        assert d == {
            "remote_host": "127.0.0.1",
            "remote_user": "frank",
            "@timestamp": "2000-10-10T13:55:36-07:00",
            "requested_url": "GET /index.html HTTP/1.0",
            "method": "GET",
            "requested_uri": "/index.html",
            "protocol": "HTTP/1.0",
            "status_code": 200,
            "content_length": 2326,
            "@version": "1",
            "message": COMMON_LINE.replace("11/Oct", "10/Oct"),
        }
        assert "ident" not in d

    def test_combined_json_matches_reference_doc(self):
        # parser.rs:194-211 golden JSON
        d = event_to_json_dict(parse_one(COMBINED_LINE, FORMAT_COMBINED))
        assert d["request_headers"] == {
            "referer": "http://www.example.com/start.html",
            "user-agent": "Mozilla/4.08 [en] (Win98; I ;Nav)",
        }

    def test_request_headers_omitted_when_both_dash(self):
        # parser.rs:766-784 via complete_mapping (parser.rs:447-452)
        line = '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 10 "-" "-"'
        d = event_to_json_dict(parse_one(line, FORMAT_COMBINED))
        assert "request_headers" not in d

    def test_readme_triple(self):
        # README.md:43-45 -> expected JSON README.md:55-90
        lines = pd.Series(
            [
                '127.0.0.1 - - [02/Oct/2018:13:55:36 -0400] "GET / HTTP/1.1" 200 2326',
                '127.0.0.1 - - [02/Oct/2018:13:55:37 -0400] "GET /some-path HTTP/1.1" 200 56',
                '127.0.0.1 - - [02/Oct/2018:13:55:38 -0400] "GET /another-path HTTP/1.1" 304 4051',
            ]
        )
        out = parse_lines(lines, FORMAT_COMMON)
        assert out["error_kind"].isna().all()
        assert list(out["status_code"]) == [200, 200, 304]
        assert list(out["content_length"]) == [2326, 56, 4051]
        assert all(s.endswith("-04:00") for s in out["timestamp_str"])
        assert "remote_user" not in event_to_json_dict(out.iloc[0])


class TestTokens:
    def test_roundtrip(self):
        lines = pd.Series([COMMON_LINE, COMBINED_LINE, "", "héllo wörld", "a"])
        toks = tok.tokenize(lines)
        assert list(tok.detokenize(toks)) == list(lines)
        assert [len(t) for t in toks] == [len(s.encode()) for s in lines]

    def test_tokens_equal_vectorized(self):
        lines = pd.Series(["abc", "abd", "", "xy", "zz"])
        toks = tok.tokenize(pd.Series(["abc", "abc", "", "xyz", "zz"]))
        eq = tok.tokens_equal(lines, toks)
        assert list(eq) == [True, False, True, False, True]

    def test_invariant_message_equals_tokens(self):
        # FIXTURES §3.1: retokenize(message) == input tokens for ok rows
        lines = pd.Series([COMMON_LINE, "bad line"])
        toks = tok.tokenize(lines)
        parsed = parse_lines(tok.detokenize(toks), FORMAT_COMMON)
        eq = tok.tokens_equal(parsed["message"], toks)
        assert eq.all()

    def test_out_of_range_token_raises(self):
        with pytest.raises(ValueError):
            tok.detokenize(pd.Series([np.array([72, 300], dtype=np.int32)]))

    def test_string_array_tokens_equal_pandas_tokens(self):
        """tokens_list_from_string_array (the Arrow-input carve the line
        operators use) gives the same list<int32> column as
        tokens_list_array: ASCII, multi-byte UTF-8, empty strings, nulls
        (rendered as "None") and sliced arrays."""
        import pyarrow as pa

        cases = [
            [COMMON_LINE, "a", "abc"],
            ["héllo wörld", "日本語", "emoji 🙂"],
            ["", "x", "", ""],
            ["a", None, "日本", None],
            [],
        ]
        for values in cases:
            got = tok.tokens_list_from_string_array(pa.array(values, type=pa.string()))
            want = tok.tokens_list_array(pd.Series(values, dtype=object))
            assert got.to_pylist() == want.to_pylist(), values
        assert tok.tokens_list_from_string_array(pa.array([None], pa.string())).to_pylist() == [
            list(b"None")
        ]
        whole = pa.array(["skip", "héllo", "", "wörld", "tail"], type=pa.string())
        for start, length in [(1, 3), (2, 2), (4, 1), (0, 0)]:
            part = whole.slice(start, length)
            got = tok.tokens_list_from_string_array(part)
            assert got.to_pylist() == tok.tokens_list_array(part.to_pandas()).to_pylist()
            assert got.to_pylist() == [list(v.encode()) for v in part.to_pylist()]


def test_batch_mixed_errors_classified():
    lines = pd.Series(
        [
            COMMON_LINE,  # ok
            "garbage",  # ParseError (no match)
            '1.2.3.4 - - [bad-ts] "GET / HTTP/1.0" 200 5',  # TimestampParseError
            '1.2.3.4 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" NaN 5',  # ParseError (int)
            '1.2.3.4 - - [-] "GET / HTTP/1.0" - -',  # ok with absents
        ]
    )
    out = parse_lines(lines, FORMAT_COMMON)
    assert list(out["error_kind"].fillna("ok")) == [
        "ok",
        ERR_PARSE,
        ERR_TIMESTAMP,
        ERR_PARSE,
        "ok",
    ]


def test_large_u64_exact_with_nulls_in_batch():
    """Int64 values in (2^53, 2^63) must survive exactly even when the
    batch also contains '-' fields (nulls): a float64 round-trip would
    silently round 9007199254740993 -> ...992. Both engines must agree."""
    big = 9007199254740993  # 2^53 + 1
    lines = pd.Series(
        [
            f'1.2.3.4 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 {big}',
            '1.2.3.4 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" 200 -',
            f'1.2.3.4 - - [11/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" {big} 7',
        ]
    )
    for impl in (parse_lines, parse_lines_pandas):
        out = impl(lines, FORMAT_COMMON)
        assert out["content_length"].iloc[0] == big, impl.__name__
        assert pd.isna(out["content_length"].iloc[1]), impl.__name__
        assert out["status_code"].iloc[2] == big, impl.__name__
        assert out["error_kind"].isna().all(), impl.__name__


class TestGrok:
    def test_compile_captures_and_noncaptures(self):
        from redeye_spark.functions.grok import grok_to_regex

        regex, fields = grok_to_regex(r"%{WORD:a} %{INT} %{NOTSPACE:b}")
        assert fields == ["a", "b"]
        assert regex == r"^(\w+) (?:[+-]?\d+) (\S+)$"

    def test_unknown_pattern_raises(self):
        from redeye_spark.functions.grok import grok_to_regex

        import pytest as _pytest
        with _pytest.raises(ValueError, match="unknown grok pattern"):
            grok_to_regex(r"%{NOPE:x}")

    def test_extract_fields_and_match_flag(self, spark):
        from redeye_spark.functions.grok import grok_extract

        df = spark.createDataFrame(
            [(1, "GET /index.html 200"), (2, "garbage !!")], ["doc_id", "line"]
        )
        got = {r["doc_id"]: r for r in grok_extract(
            df, r"%{WORD:method} %{NOTSPACE:path} %{INT:status}",
            keep=["doc_id"]).collect()}
        assert got[1]["method"] == "GET" and got[1]["status"] == "200"
        assert got[1]["grok_match"] is True
        assert got[2]["grok_match"] is False and got[2]["method"] == ""

    def test_field_collision_rejected(self, spark):
        from redeye_spark.functions.grok import grok_extract

        import pytest as _pytest
        df = spark.createDataFrame([(1, "x")], ["doc_id", "line"])
        with _pytest.raises(ValueError, match="collide with input columns"):
            grok_extract(df, r"%{WORD:line}")
        with _pytest.raises(ValueError, match="duplicate grok field"):
            grok_extract(df, r"%{WORD:a} %{WORD:a}")

    def test_malformed_reference_rejected(self):
        from redeye_spark.functions.grok import grok_to_regex

        import pytest as _pytest
        with _pytest.raises(ValueError, match="malformed grok reference"):
            grok_to_regex(r"%{WORD:status-code} tail")


class TestGrokLibraryAdditions:
    def test_new_patterns_match(self):
        import re as _re
        from redeye_spark.functions.grok import grok_to_regex

        rx, fields = grok_to_regex(
            r"%{TIMESTAMP_ISO8601:t} %{UUID:u} %{URIPATH:p} %{EMAILADDRESS:e}"
        )
        m = _re.match(rx, "2024-01-15T10:30:00Z 123e4567-e89b-12d3-a456-426614174000 "
                          "/api/v1/items me@example.com")
        assert m and m.group(1) == "2024-01-15T10:30:00Z"
        assert m.group(3) == "/api/v1/items"
        assert fields == ["t", "u", "p", "e"]

    def test_syslog_timestamp(self):
        import re as _re
        from redeye_spark.functions.grok import grok_to_regex

        rx, _ = grok_to_regex(r"%{SYSLOGTIMESTAMP:t} %{GREEDYDATA:msg}")
        assert _re.match(rx, "Mar  7 06:25:01 CRON session opened")

    def test_extra_patterns_extend_and_override(self, spark):
        from redeye_spark.functions.grok import grok_extract

        df = spark.createDataFrame([(1, "order ORD-12345 shipped")],
                                   ["doc_id", "line"])
        got = grok_extract(
            df, r"order %{ORDERID:oid} %{WORD:state}",
            extra_patterns={"ORDERID": r"ORD-\d+"},
        ).collect()[0]
        assert got["oid"] == "ORD-12345" and got["state"] == "shipped"
        assert got["grok_match"] is True

    def test_extra_pattern_capture_group_rejected(self):
        import pytest as _pytest
        from redeye_spark.functions.grok import grok_to_regex

        with _pytest.raises(ValueError, match="capturing group"):
            grok_to_regex(r"%{BAD:x}", extra_patterns={"BAD": r"(\d+)"})
        # non-capturing and escaped parens are fine
        rx, _ = grok_to_regex(r"%{OK:x}", extra_patterns={"OK": r"(?:a|b)\("})
        assert rx


class TestMultilineAssembly:
    def _assemble(self, spark, rows):
        from redeye_spark.operators.multiline import assemble_multiline

        df = spark.createDataFrame(rows, "source string, doc_id long, line string")
        return {(r["source"], r["anchor_id"]): (r["n_lines"], r["assembled"])
                for r in assemble_multiline(df, "source", "doc_id").collect()}

    def test_stack_trace_folds_into_anchor(self, spark):
        got = self._assemble(spark, [
            ("a", 1, "ERROR boom"),
            ("a", 2, "  at Foo.bar(Foo.java:1)"),
            ("a", 3, "  at Baz.qux(Baz.java:9)"),
            ("a", 4, "INFO fine"),
        ])
        assert got[("a", 1)] == (3, "ERROR boom\n  at Foo.bar(Foo.java:1)\n  at Baz.qux(Baz.java:9)")
        assert got[("a", 4)] == (1, "INFO fine")

    def test_orphan_continuations_kept_not_dropped(self, spark):
        got = self._assemble(spark, [
            ("a", 1, "  dangling continuation"),
            ("a", 2, "INFO first anchor"),
        ])
        assert got[("a", None)] == (1, "  dangling continuation")
        assert got[("a", 2)] == (1, "INFO first anchor")

    def test_groups_are_independent(self, spark):
        got = self._assemble(spark, [
            ("a", 1, "ERROR x"),
            ("b", 2, "  continuation in b only"),
            ("b", 3, "WARN y"),
        ])
        assert got[("a", 1)][0] == 1
        assert got[("b", None)][0] == 1    # b's continuation can't join a's anchor
        assert got[("b", 3)][0] == 1

    def test_assembled_blocks_feed_the_grok_parser(self, spark):
        """Composition: assemble first, then parse the anchor line of
        each block — the upstream step the fixed parsers assume."""
        from pyspark.sql import functions as F

        from redeye_spark.functions.grok import grok_extract
        from redeye_spark.operators.multiline import assemble_multiline

        df = spark.createDataFrame(
            [("a", 1, "ERROR worker-7 failed"),
             ("a", 2, "  at Foo.bar"),
             ("a", 3, "INFO worker-9 ok")],
            "source string, doc_id long, line string",
        )
        blocks = assemble_multiline(df, "source", "doc_id").withColumn(
            "first_line", F.split(F.col("assembled"), "\n")[0]
        )
        got = grok_extract(
            blocks, r"%{LOGLEVEL:level} %{NOTSPACE:worker} %{GREEDYDATA:msg}",
            line_col="first_line", keep=["anchor_id"],
        ).collect()
        by_anchor = {r["anchor_id"]: r for r in got}
        assert by_anchor[1]["level"] == "ERROR" and by_anchor[1]["worker"] == "worker-7"
        assert by_anchor[3]["level"] == "INFO"


class TestGrokEscapeGuard:
    def test_escaped_backslash_before_group_still_rejected(self):
        """r'x\\(\d+)' is a literal backslash followed by a REAL
        capturing group — a single-lookbehind guard misses it."""
        import pytest as _pytest
        from redeye_spark.functions.grok import grok_to_regex

        with _pytest.raises(ValueError, match="capturing group"):
            grok_to_regex(r"%{B:x}", extra_patterns={"B": "x\\\\(\\d+)"})

    def test_escaped_paren_allowed(self):
        from redeye_spark.functions.grok import grok_to_regex

        rx, _ = grok_to_regex(r"%{OK:x}", extra_patterns={"OK": r"a\(b\)"})
        assert rx

    def test_paren_inside_character_class_allowed(self):
        """'(' inside [...] is a literal — it opens no group and shifts
        no field indexes, so the guard must accept it (including the
        literal-] quirks '[]]' and '[^]]')."""
        from redeye_spark.functions.grok import grok_to_regex

        for ok in (r"[()]+", r"[^()]*", r"[]forbidden(]", r"[^](]x"):
            rx, _ = grok_to_regex(r"%{OK:x}", extra_patterns={"OK": ok})
            assert rx
        import pytest as _pytest

        with _pytest.raises(ValueError, match="capturing group"):
            grok_to_regex(r"%{B:x}", extra_patterns={"B": r"[a-z](\d)"})


class TestGrokComposites:
    def test_combinedapachelog_parses_real_combined_line(self):
        import re as _re
        from redeye_spark.functions.grok import grok_to_regex

        rx, fields = grok_to_regex(r"%{COMBINEDAPACHELOG}")
        line = ('10.1.2.3 - frank [10/Oct/2000:13:55:36 -0700] '
                '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
                '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"')
        m = _re.match(rx, line)
        assert m, rx
        got = dict(zip(fields, m.groups()))
        assert got["clientip"] == "10.1.2.3"
        assert got["auth"] == "frank"
        assert got["verb"] == "GET" and got["request"] == "/apache_pb.gif"
        assert got["response"] == "200" and got["bytes"] == "2326"
        assert got["referrer"] == "http://www.example.com/start.html"
        assert got["agent"].startswith("Mozilla/4.08")

    def test_composite_field_order_matches_group_order(self):
        """A composite's inner fields must land between its left and
        right neighbors, exactly like the regex's '(' order — the
        misalignment a pass-until-done expansion would cause."""
        import re as _re
        from redeye_spark.functions.grok import grok_to_regex

        rx, fields = grok_to_regex(r"%{WORD:pre} %{COMMONAPACHELOG} %{WORD:tail}")
        assert fields[0] == "pre" and fields[-1] == "tail"
        line = ('X 10.0.0.1 - bob [10/Oct/2000:13:55:36 -0700] '
                '"GET / HTTP/1.0" 200 99 Y')
        m = _re.match(rx, line)
        assert m
        got = dict(zip(fields, m.groups()))
        assert got["pre"] == "X" and got["tail"] == "Y"
        assert got["clientip"] == "10.0.0.1" and got["response"] == "200"

    def test_dash_status_and_bytes_leave_fields_empty_but_match(self):
        import re as _re
        from redeye_spark.functions.grok import grok_to_regex

        rx, fields = grok_to_regex(r"%{COMMONAPACHELOG}")
        line = '10.0.0.1 - - [10/Oct/2000:13:55:36 -0700] "GET / HTTP/1.0" - -'
        m = _re.match(rx, line)
        assert m
        got = dict(zip(fields, m.groups()))
        assert got["response"] is None and got["bytes"] is None

    def test_circular_reference_detected(self):
        import pytest as _pytest
        from redeye_spark.functions.grok import grok_to_regex

        with _pytest.raises(ValueError, match="circular"):
            grok_to_regex(r"%{A:x}", extra_patterns={"A": r"%{B}", "B": r"%{A}"})

    def test_composite_through_spark_and_duckdb(self, spark):
        """The composite compiles to the same engine-portable regex
        contract as flat patterns: spark regexp_extract == DuckDB."""
        import duckdb
        from redeye_spark.functions.grok import grok_extract, grok_to_regex

        line = ('10.1.2.3 - frank [10/Oct/2000:13:55:36 -0700] '
                '"GET /x HTTP/1.0" 404 12 "-" "curl/8.4.0"')
        df = spark.createDataFrame([(1, line)], ["doc_id", "line"])
        row = grok_extract(df, r"%{COMBINEDAPACHELOG}").collect()[0]
        rx, fields = grok_to_regex(r"%{COMBINEDAPACHELOG}")
        esc = rx.replace("'", "''")
        i = fields.index("response") + 1
        duck = duckdb.sql(
            f"SELECT regexp_extract('{line.replace(chr(39), chr(39)*2)}', '{esc}', {i}) AS r"
        ).fetchone()[0]
        assert row["response"] == duck == "404"
