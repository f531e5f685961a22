"""kv-IR stream (8-byte unstructured encoding) — byte-format golden tests,
round-trips through both parsers, corruption handling, and the Spark
mapInArrow surface.

Format parity targets:
reference components/core/src/clp/ffi/ir_stream/protocol_constants.hpp,
encoding_methods.cpp (eight_byte_encoding), utils.cpp serialize_metadata.
"""

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clp_spark.functions.encode_kernel_np import encode_spans
from clp_spark.oracle.encoder import encode_message
from clp_spark.sources import ir_stream as ir


def _encode(msgs: list[bytes]):
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    return encode_spans(data, np.cumsum(lens) - lens, lens)


def _serialize(msgs, ts=None):
    raw = _encode(msgs)
    if ts is None:
        ts = np.arange(len(msgs), dtype=np.int64) * 1000 + 1_700_000_000_000
    return (
        ir.serialize_ir_core(
            np.asarray(ts, dtype=np.int64),
            raw["lt_data"],
            np.asarray(raw["lt_offsets"], dtype=np.int64),
            np.asarray(raw["codes"]),
            np.asarray(raw["var_offsets"], dtype=np.int64),
            np.asarray(raw["nd_values"], dtype=np.int64),
            raw["d_data"],
            np.asarray(raw["d_inner_offsets"], dtype=np.int64),
        ).tobytes(),
        raw,
    )


class TestByteFormat:
    def test_preamble_layout(self):
        pre = ir.make_preamble("%Y-%m-%d %H:%M:%S,%3", "", "UTC")
        assert pre[:4] == bytes([0xFD, 0x2F, 0xB5, 0x30])
        assert pre[4] == 0x01  # json metadata
        assert pre[5] == 0x11  # u8 length
        meta = json.loads(pre[7 : 7 + pre[6]].decode())
        # encoding_methods.cpp:100-108 base fields
        assert meta["VERSION"] == "0.0.2"
        assert meta["VARIABLES_SCHEMA_ID"] == "com.yscope.clp.VariablesSchemaV2"
        assert (
            meta["VARIABLE_ENCODING_METHODS_ID"]
            == "com.yscope.clp.VariableEncodingMethodsV1"
        )
        assert meta["TIMESTAMP_PATTERN"] == "%Y-%m-%d %H:%M:%S,%3"
        assert meta["TZ_ID"] == "UTC"
        # nlohmann (std::map) writes keys sorted
        assert list(meta) == sorted(meta)

    def test_event_bytes_exact(self):
        """Hand-computed byte layout for one event: dict var + int var +
        logtype + timestamp (8-byte encoding is absolute-ts, tag 0x30)."""
        blob, raw = _serialize([b"user alice12 sent 42"], ts=[-2])
        body = blob[len(ir.make_preamble()) : ]
        expect = (
            bytes([0x11, 7]) + b"alice12"          # VarStrLenUByte + len + str
            + bytes([0x19]) + (42).to_bytes(8, "big", signed=True)  # int var
            + bytes([0x21, 13]) + b"user \x12 sent \x11"  # LogtypeStrLenUByte
            + bytes([0x30]) + (-2).to_bytes(8, "big", signed=True)  # ts
            + bytes([0x00])                          # EOF
        )
        assert body == expect

    def test_length_tiers(self):
        """u8/u16/i32 length tags for dict vars and logtypes."""
        v16 = b"v" * 300 + b"7"      # digit → variable; len 301 → u16 tier
        v32 = b"w" * 70000 + b"7"    # len 70001 → i32 tier
        blob, _ = _serialize([b"a " + v16 + b" b", b"c " + v32 + b" d"])
        a = np.frombuffer(blob, dtype=np.uint8)
        evs = ir.deserialize_ir_py(blob)
        assert evs[0]["dict_vars"] == [v16]
        assert evs[1]["dict_vars"] == [v32]
        # the tags really are the tiered ones
        assert bytes([0x12]) + (301).to_bytes(2, "big") in blob
        assert bytes([0x13]) + (70001).to_bytes(4, "big") in blob

    def test_float_var_is_encoded_not_dict(self):
        blob, raw = _serialize([b"took 0.25 ms"])
        evs = ir.deserialize_ir_py(blob)
        assert evs[0]["dict_vars"] == []
        assert evs[0]["encoded_vars"] == list(np.asarray(raw["nd_values"]))
        assert evs[0]["logtype"] == b"took \x13 ms"


CORPUS = [
    b" connected to 10.0.0.7 user=alice took 0.25 ms",
    b"plain constant text only",
    b"job task_12 retry 3 of 5 hex deadBEEF",
    b"escape \\x here \x11 and \x12 or \x13 done",
    b"big -9223372036854775808 and 9223372036854775807",
    b"float -00.00 and 1.2345678901234567 and 16.5",
    b"x",
    b"=value after equals",
]


class TestRoundTrip:
    def test_py_parser_roundtrip(self):
        blob, raw = _serialize(CORPUS)
        evs = ir.deserialize_ir_py(blob)
        assert len(evs) == len(CORPUS)
        lt_off = np.asarray(raw["lt_offsets"])
        for i, e in enumerate(evs):
            assert e["logtype"] == raw["lt_data"].tobytes()[lt_off[i]:lt_off[i+1]]

    def test_transposed_equals_py(self):
        blobs = [
            _serialize(CORPUS)[0],
            _serialize(CORPUS[:3])[0],
            _serialize([b"only one 1"])[0],
            _serialize(CORPUS[::-1])[0],
        ]
        out = ir.deserialize_ir_many(blobs)
        flat_py = []
        for bi, b in enumerate(blobs):
            for e in ir.deserialize_ir_py(b):
                flat_py.append((bi, e))
        assert out["n"] == len(flat_py)
        lt_off = out["lt_offsets"]
        nd_off = out["nd_offsets"]
        d_off = out["d_offsets"]
        d_in = out["d_inner_offsets"]
        for i, (bi, e) in enumerate(flat_py):
            assert out["blob_id"][i] == bi
            assert out["ts"][i] == e["ts"]
            assert out["lt_data"].tobytes()[lt_off[i]:lt_off[i+1]] == e["logtype"]
            assert list(out["nd_values"][nd_off[i]:nd_off[i+1]]) == e["encoded_vars"]
            got_dicts = [
                out["d_data"].tobytes()[d_in[j]:d_in[j+1]]
                for j in range(d_off[i], d_off[i+1])
            ]
            assert got_dicts == e["dict_vars"]

    def test_transposed_raw_column_symmetry(self):
        """deserialize(serialize(x)) reproduces the encode kernel's raw
        columns exactly (single blob ⇒ identical flat layout)."""
        blob, raw = _serialize(CORPUS)
        out = ir.deserialize_ir_many([blob])
        assert bytes(out["lt_data"]) == raw["lt_data"].tobytes()
        assert np.array_equal(out["lt_offsets"], np.asarray(raw["lt_offsets"]))
        assert np.array_equal(out["nd_values"], np.asarray(raw["nd_values"]))
        assert bytes(out["d_data"]) == raw["d_data"].tobytes()
        assert np.array_equal(
            out["d_inner_offsets"], np.asarray(raw["d_inner_offsets"])
        )
        codes, var_offsets = ir.codes_from_logtypes(
            out["lt_data"], out["lt_offsets"]
        )
        assert np.array_equal(codes, np.asarray(raw["codes"]))
        assert np.array_equal(var_offsets, np.asarray(raw["var_offsets"]))

    def test_empty_blob(self):
        out = ir.deserialize_ir_many([ir.make_preamble() + b"\x00"])
        assert out["n"] == 0

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=1, max_codepoint=127),
                min_size=1,
                max_size=60,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_fuzz_roundtrip(self, texts):
        msgs = [t.encode() for t in texts]
        blob, raw = _serialize(msgs)
        out = ir.deserialize_ir_many([blob])
        assert out["n"] == len(msgs)
        assert bytes(out["lt_data"]) == raw["lt_data"].tobytes()
        assert np.array_equal(out["nd_values"], np.asarray(raw["nd_values"]))
        assert bytes(out["d_data"]) == raw["d_data"].tobytes()
        # and the encode kernel's columns agree with the pure-python oracle
        oracle = [encode_message(m.decode("utf-8", "surrogateescape")) for m in msgs]
        evs = ir.deserialize_ir_py(blob)
        for e, o in zip(evs, oracle):
            assert e["logtype"] == o.logtype.encode("utf-8", "surrogateescape")


class TestCorruption:
    def test_bad_magic(self):
        with pytest.raises(ValueError, match="magic"):
            ir.deserialize_ir_many([b"\x00\x01\x02\x03rest"])

    def test_bad_tag(self):
        blob, _ = _serialize([b"ok 1"])
        bad = blob[:-1] + bytes([0x7F]) + b"\x00"
        with pytest.raises(ValueError, match="corrupt IR tag"):
            ir.deserialize_ir_many([bad])

    def test_unclosed_event(self):
        # drop the trailing EOF and timestamp (9+1 bytes) → incomplete
        blob, _ = _serialize([b"ok 1"])
        with pytest.raises(ValueError):
            ir.deserialize_ir_many([blob[:-10]])

    def test_py_parser_rejects_bad_tag(self):
        blob, _ = _serialize([b"ok 1"])
        bad = blob[:-1] + bytes([0x7F]) + b"\x00"
        with pytest.raises(ValueError):
            ir.deserialize_ir_py(bad)


class TestSparkSurface:
    @pytest.fixture(scope="class")
    def encoded(self, spark):
        from clp_spark.functions.arrow_kernel import encode_df
        import pyspark.sql.functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = docs.select(
            "source",
            # deterministic per-doc timestamp (documents carry none)
            (F.pmod(F.xxhash64("doc_id"), F.lit(10_000_000_000)) - 5_000_000_000)
            .alias("ts"),
            F.col("text").alias("message"),
        ).limit(2000)
        return encode_df(df, ["source", "ts"], "message").cache()

    def test_df_roundtrip(self, spark, encoded):
        chunks = ir.events_to_ir_df(
            encoded, ts_col="ts", stream_col="source", events_per_chunk=256
        )
        pdf = chunks.toPandas()
        assert (pdf["n_events"] <= 256).all()
        assert pdf["n_events"].sum() == encoded.count()
        # every blob self-contained: starts with magic, ends with EOF
        assert all(b[:4] == ir.MAGIC_8BYTE for b in pdf["ir"])
        assert all(b[-1] == 0 for b in pdf["ir"])
        back = ir.ir_to_events_df(
            spark.createDataFrame(pdf[["stream", "ir"]]), "ir", "stream"
        )
        a = sorted(
            (r["stream"], r["ts"], r["logtype"], tuple(r["placeholders"]),
             tuple(r["encoded_vars"]), tuple(r["dict_vars"]))
            for r in back.collect()
        )
        b = sorted(
            (r["source"], r["ts"], r["logtype"], tuple(r["placeholders"]),
             tuple(r["encoded_vars"]), tuple(r["dict_vars"]))
            for r in encoded.collect()
        )
        assert a == b

    def test_chunks_are_per_stream(self, encoded):
        chunks = ir.events_to_ir_df(encoded, events_per_chunk=10_000)
        pdf = chunks.toPandas()
        # each stream's events are contiguous → #chunks == #streams here
        assert len(pdf) == pdf["stream"].nunique()

    def test_messages_survive_ir_transit(self, spark, encoded):
        """Full lifecycle: message → encode → IR → decode == original."""
        from clp_spark.operators.decode import decode_df

        chunks = ir.events_to_ir_df(encoded, events_per_chunk=512)
        back = ir.ir_to_events_df(chunks, "ir", "stream")
        decoded = decode_df(back, ["stream", "ts"])
        got = sorted(r["message"] for r in decoded.select("message").collect())
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        want = sorted(
            r["text"] for r in docs.limit(2000).select("text").collect()
        )
        assert got == want


class TestScanRobustness:
    """Truncation/corruption fuzz for the two-pass text-IR scanner (same
    contract as kv_ir's: ValueError or a clean prefix, never garbage)."""

    def _blob(self):
        return _serialize([b"alpha 1 beta", b"gamma 2.5 delta", b"eps 3"])[0]

    def test_every_truncation_point(self):
        blob = self._blob()
        full = ir.deserialize_ir_many([blob])
        body_start = 7 + blob[6]
        for cut in range(body_start + 1, len(blob)):
            t = blob[:cut]
            try:
                out = ir.deserialize_ir_many([t])
            except ValueError:
                continue
            # events are closed by their timestamp token, so any accepted
            # prefix must reproduce a prefix of the full event sequence
            n = out["n"]
            assert n <= full["n"]
            assert out["ts"].tolist() == full["ts"].tolist()[:n]
            assert out["lt_offsets"].tolist() == full["lt_offsets"].tolist()[:n + 1]

    def test_flipped_byte_never_hangs(self):
        import random

        blob = bytearray(self._blob())
        body_start = 7 + blob[6]
        rnd = random.Random(11)
        for _ in range(200):
            b = bytearray(blob)
            b[rnd.randrange(body_start, len(b))] = rnd.randrange(256)
            try:
                ir.deserialize_ir_many([bytes(b)])
            except ValueError:
                pass
