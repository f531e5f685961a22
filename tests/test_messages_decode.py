"""Tests: timestamp parsing, multi-line assembly, decode join, indexer."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from clp_spark.functions.arrow_kernel import encode_df
from clp_spark.operators.decode import decode_df
from clp_spark.operators.indexer import table_column_stats
from clp_spark.operators.messages import assemble_multiline
from tests.test_encode_kernel import encode_columns


def ms(s: str) -> int:
    fmt = "%Y-%m-%d %H:%M:%S,%f" if "," in s else "%Y-%m-%d %H:%M:%S"
    return int(datetime.strptime(s, fmt).replace(tzinfo=timezone.utc).timestamp() * 1000)


class TestTimestamps:
    def test_known_patterns(self, spark):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from clp_spark.functions.timestamps import detect_pattern, parse_timestamp_ms

        rows = [
            ("2016-05-08 07:34:05,251 INFO hello", "iso_space_comma_ms",
             ms("2016-05-08 07:34:05,251000")),
            ("2016-05-08T07:34:05.251 x", "iso_T_dot_ms", ms("2016-05-08 07:34:05,251000")),
            ("[2015-01-31 15:50:45,085] y", "bracketed_comma_ms",
             ms("2015-01-31 15:50:45,085000")),
            ("2015-01-31 15:50:45 z", "iso_space_sec", ms("2015-01-31 15:50:45")),
            ("2015/01/31 15:50:45 w", "slash_space_sec", ms("2015-01-31 15:50:45")),
            ("no timestamp here", None, None),
        ]
        df = spark.createDataFrame([(r[0],) for r in rows], "line string")
        got = df.select(
            "line",
            detect_pattern(F.col("line")).alias("pat"),
            parse_timestamp_ms(F.col("line")).alias("ts"),
        ).collect()
        for g, (line, pat, expected_ms) in zip(got, rows):
            assert g["pat"] == pat, line
            assert g["ts"] == expected_ms, line

    def test_full_reference_pattern_list(self, spark):
        """One example per reference pattern (TimestampPattern.cpp:124-190);
        expected epoch-ms computed independently with datetime."""
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from clp_spark.functions.timestamps import detect_pattern, parse_timestamp_ms

        def utc(*a):
            return int(datetime(*a, tzinfo=timezone.utc).timestamp() * 1000)

        cases = [
            ("2015-01-31T15:50:45.392 m", "iso_T_dot_ms", utc(2015, 1, 31, 15, 50, 45, 392000)),
            ("2015-01-31T15:50:45,392 m", "iso_T_comma_ms", utc(2015, 1, 31, 15, 50, 45, 392000)),
            ("2015/01/31T15:50:45.123 m", "slash_T_dot_ms", utc(2015, 1, 31, 15, 50, 45, 123000)),
            ("2015/01/31 15:50:45,123 m", "slash_space_comma_ms", utc(2015, 1, 31, 15, 50, 45, 123000)),
            ("INFO [main] 2015-01-31 15:50:45,085 m", "two_tok_comma_ms", utc(2015, 1, 31, 15, 50, 45, 85000)),
            ("<<<2016-11-10 03:02:29:936 m", "angle_colon_ms", utc(2016, 11, 10, 3, 2, 29, 936000)),
            ("01 Jan 2016 15:50:17,085 m", "day_monname_comma_ms", utc(2016, 1, 1, 15, 50, 17, 85000)),
            ("2015/01/31T15:50:45 m", "slash_T_sec", utc(2015, 1, 31, 15, 50, 45)),
            ("[2015-01-31T15:50:45 m", "bracket_iso_T_sec", utc(2015, 1, 31, 15, 50, 45)),
            ("[20170106-16:56:41] m", "bracket_compact", utc(2017, 1, 6, 16, 56, 41)),
            ("Start-Date: 2015-01-31  15:50:45 m", "start_date", utc(2015, 1, 31, 15, 50, 45)),
            ("15/01/31 15:50:45 m", "two_digit_year", utc(2015, 1, 31, 15, 50, 45)),
            ("150131  9:50:45 m", "compact_2dy", utc(2015, 1, 31, 9, 50, 45)),
            ("Jan 01, 2016 3:50:17 PM m", "monname_ampm", utc(2016, 1, 1, 15, 50, 17)),
            ("January 31, 2015 15:50 m", "full_month_hm", utc(2015, 1, 31, 15, 50)),
            ("E [31/Jan/2015:15:50:45 m", "apache_1tok", utc(2015, 1, 31, 15, 50, 45)),
            ("localhost - - [01/Jan/2016:15:50:17 m", "apache_3tok", utc(2016, 1, 1, 15, 50, 17)),
            ("192.168.4.5 - - [01/01/2016:15:50:17 m", "apache_3tok_numeric", utc(2016, 1, 1, 15, 50, 17)),
            ('Started POST "/a" for 127.0.0.1 at 2017-06-18 00:20:44 m', "rails_6tok", utc(2017, 6, 18, 0, 20, 44)),
            ("update-alternatives 2015-01-31 15:50:45 m", "one_tok_iso", utc(2015, 1, 31, 15, 50, 45)),
            ("ERROR: apport (pid 4557) Sun Jan  1 15:50:45 2015 m", "apport_4tok", utc(2015, 1, 1, 15, 50, 45)),
            ("Sun Jan  1 15:50:45 2015 m", "weekday", utc(2015, 1, 1, 15, 50, 45)),
            ("Jan 21 11:56:42 m", "syslog_noyear", utc(1970, 1, 21, 11, 56, 42)),
            ("01-21 11:56:42.392 m", "monthday_ms_noyear", utc(1970, 1, 21, 11, 56, 42, 392000)),
        ]
        df = spark.createDataFrame([(c[0],) for c in cases], "line string")
        got = df.select(
            "line",
            detect_pattern(F.col("line")).alias("pat"),
            parse_timestamp_ms(F.col("line")).alias("ts"),
        ).collect()
        for g, (line, pat, expected_ms) in zip(got, cases):
            assert g["pat"] == pat, (line, g["pat"])
            assert g["ts"] == expected_ms, (line, g["ts"], expected_ms)


class TestMultiline:
    def test_assembly(self, spark):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        lines = [
            ("f1", 0, "preamble without ts"),
            ("f1", 1, "2016-05-08 07:34:05,251 event one"),
            ("f1", 2, "  continuation A"),
            ("f1", 3, "  continuation B"),
            ("f1", 4, "2016-05-08 07:34:06,000 event two"),
            ("f2", 0, "2016-05-08 08:00:00,000 other file"),
        ]
        df = spark.createDataFrame(lines, "file_id string, line_no long, line string")
        out = {
            (r["file_id"], r["msg_ix"]): r
            for r in assemble_multiline(df).collect()
        }
        assert out[("f1", 0)]["message"] == "preamble without ts"
        assert out[("f1", 0)]["ts_ms"] is None
        assert out[("f1", 1)]["message"] == " event one\n  continuation A\n  continuation B"
        assert out[("f1", 1)]["ts_ms"] == ms("2016-05-08 07:34:05,251000")
        assert out[("f1", 2)]["message"] == " event two"
        assert out[("f2", 1)]["message"] == " other file"

    def test_pattern_lock_mixed_format_file(self, spark):
        """Archive.cpp:293 semantics: the FIRST matching line locks the
        file's pattern; a later line in a DIFFERENT format is a continuation,
        not a new message — without the lock it would flap."""
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        lines = [
            ("fx", 0, "2016-05-08 07:34:05,251 head"),
            ("fx", 1, "[20170106-16:56:41] looks like another format"),
            ("fx", 2, "2016-05-08 07:34:06,000 second"),
            # fy locks the bracket_compact pattern instead
            ("fy", 0, "[20170106-16:56:41] head"),
            ("fy", 1, "2016-05-08 07:34:05,251 not a new message here"),
        ]
        df = spark.createDataFrame(lines, "file_id string, line_no long, line string")
        out = {
            (r["file_id"], r["msg_ix"]): r
            for r in assemble_multiline(df, lock_patterns=True).collect()
        }
        # fx: line 1 (off-format) folds into message 1
        assert out[("fx", 1)]["message"] == (
            " head\n[20170106-16:56:41] looks like another format"
        )
        assert out[("fx", 2)]["message"] == " second"
        # fy: locked to bracket_compact; the ISO line is a continuation
        assert out[("fy", 1)]["message"] == (
            " head\n2016-05-08 07:34:05,251 not a new message here"
        )
        assert ("fy", 2) not in out

    def test_lock_off_reproduces_flapping(self, spark):
        """Sanity: with lock_patterns=False every timestamped line starts a
        message regardless of format — the pre-lock behavior."""
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        lines = [
            ("fx", 0, "2016-05-08 07:34:05,251 head"),
            ("fx", 1, "[20170106-16:56:41] other format"),
        ]
        df = spark.createDataFrame(lines, "file_id string, line_no long, line string")
        out = assemble_multiline(df, lock_patterns=False).collect()
        assert len(out) == 2


class TestDecodeJoin:
    def test_reconstruct_roundtrip(self, spark):
        """Rows carrying the logtype inline decode with no join."""
        msgs = [
            "Task 17 failed on node-3 at 0.335 s",
            "plain text only",
            "hex deadBEEF and big 10000000000000000000",
        ]
        enc = encode_columns(msgs)
        rows = [
            (str(i), enc["logtype"][i], enc["encoded_vars"][i], enc["dict_vars"][i])
            for i in range(len(msgs))
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, logtype string, encoded_vars array<long>, "
                  "dict_vars array<string>"
        )
        got = {r["doc_id"]: r["message"] for r in decode_df(df, ["doc_id"]).collect()}
        for i, m in enumerate(msgs):
            assert got[str(i)] == m

    def test_reconstruct_via_dict_join(self, spark):
        """Rows carrying logtype_id: broadcast logtype join, then decode."""
        msgs = ["a 1", "a 2", "b 9"]
        enc = encode_columns(msgs)
        lts = sorted(set(enc["logtype"]))
        lt_id = {lt: i for i, lt in enumerate(lts)}
        rows = [
            (str(i), lt_id[enc["logtype"][i]], enc["encoded_vars"][i],
             enc["dict_vars"][i])
            for i in range(len(msgs))
        ]
        df = spark.createDataFrame(
            rows, "doc_id string, logtype_id long, encoded_vars array<long>, "
                  "dict_vars array<string>"
        )
        ltd = spark.createDataFrame(list(lt_id.items()), "logtype string, logtype_id long")
        joined = df.join(F.broadcast(ltd), "logtype_id")
        got = {r["doc_id"]: r["message"]
               for r in decode_df(joined, ["doc_id"]).collect()}
        assert got == {str(i): m for i, m in enumerate(msgs)}

    def test_large_var_types_roundtrip(self, spark):
        """With Arrow large_string transfer (64-bit offsets) enabled, encode
        then decode returns every message unchanged and in its own row."""
        msgs = ["took 12 ms user=bob", "", "plain text", "hex deadbeef 0.5 s"]
        df = spark.createDataFrame(
            list(enumerate(msgs)), "id long, message string"
        ).repartition(2)
        key = "spark.sql.execution.arrow.useLargeVarTypes"
        spark.conf.set(key, "true")
        try:
            got = {r["id"]: r["message"]
                   for r in decode_df(encode_df(df, ["id"]), ["id"]).collect()}
        finally:
            spark.conf.unset(key)
        assert got == dict(enumerate(msgs))


class TestIndexer:
    def test_column_stats(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        stats = {r["column_name"]: r for r in
                 table_column_stats(df, "orders").collect()}
        assert stats["o_orderkey"]["n_rows"] == df.count()
        assert stats["o_orderkey"]["n_distinct"] == df.count()
        assert int(stats["o_orderkey"]["min_value"]) == 0
        assert stats["o_orderstatus"]["column_type"] == "string"
