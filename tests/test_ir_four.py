"""kv-IR four-byte encoding — byte-format goldens, demotion semantics,
parser parity, fuzz, and Spark-surface message fidelity.

Format parity targets:
reference components/core/src/clp/ffi/ir_stream/protocol_constants.hpp
(FourByteEncodingMagicNumber, VarFourByteEncoding, TimestampDelta*),
encoding_methods.cpp four_byte_encoding (preamble REFERENCE_TIMESTAMP,
delta timestamps), encoding_methods.inc (4-byte float layout 1|25|3|3,
int32-or-demote integer rule).
"""

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clp_spark.functions.encode_kernel_np import DICT_PH, FLOAT_PH, INT_PH, encode_spans
from clp_spark.oracle.encoder import decode_message
from clp_spark.sources import ir_four as ir4
from clp_spark.sources import ir_stream as ir


def _encode(msgs: list[bytes]):
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    return encode_spans(data, np.cumsum(lens) - lens, lens)


def _serialize4(msgs, ts=None):
    raw = _encode(msgs)
    if ts is None:
        ts = np.arange(len(msgs), dtype=np.int64) * 1000 + 1_700_000_000_000
    return (
        ir4.serialize_ir_core4(
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


def _events_to_messages(events):
    return [
        decode_message(
            e["logtype"].decode("utf-8", "surrogateescape"),
            e["encoded_vars"],
            [d.decode("utf-8", "surrogateescape") for d in e["dict_vars"]],
        )
        for e in events
    ]


TRICKY = [
    b"plain message no vars",
    b"small int 123 and float 0.45",
    b"int32 bounds 2147483647 and -2147483648 stay encoded",
    b"int32 overflow 2147483648 and -2147483649 demote",
    b"long int 123456789012345 demotes",
    b"nine digit float 123456789.5 demotes",
    b"eight digit float .12345678 fits",
    b"digits over 25 bits 9999999.9 demotes",
    b"digits under 25 bits 3355443.1 fits",
    b"dict var deadbeef and id-42x",
    b"negative -7 and -0.5",
]


class TestByteFormat:
    def test_magic_and_reference_timestamp(self):
        blob, _ = _serialize4([b"x 5"], ts=np.array([123456], dtype=np.int64))
        assert blob[:4] == bytes([0xFD, 0x2F, 0xB5, 0x29])
        assert blob[4] == 0x01 and blob[5] == 0x11
        meta = json.loads(blob[7 : 7 + blob[6]].decode())
        assert meta["REFERENCE_TIMESTAMP"] == "123456"
        assert meta["VERSION"] == "0.0.2"

    def test_event_bytes_exact(self):
        """Golden: one event, one int var — tag layout byte for byte."""
        blob, _ = _serialize4([b"v 7"], ts=np.array([50], dtype=np.int64))
        body = blob[7 + blob[6] : ]
        # 0x18 + int32(7) | logtype 0x21 len "v \x11" | delta 0x31 0 | EOF
        assert body[0] == 0x18
        assert body[1:5] == (7).to_bytes(4, "big")
        assert body[5] == 0x21 and body[6] == 3
        assert body[7:10] == b"v \x11"
        assert body[10] == 0x31 and body[11] == 0  # first delta = 0
        assert body[12] == 0x00

    @pytest.mark.parametrize(
        "delta,tag,width",
        [(127, 0x31, 1), (-128, 0x31, 1), (128, 0x32, 2), (-30000, 0x32, 2),
         (40000, 0x33, 4), (-(1 << 31), 0x33, 4), (1 << 31, 0x34, 8),
         (-(1 << 40), 0x34, 8)],
    )
    def test_delta_width_tiers(self, delta, tag, width):
        ts = np.array([1000, 1000 + delta], dtype=np.int64)
        blob, _ = _serialize4([b"a", b"b"], ts=ts)
        evs = ir.deserialize_ir_py(blob)
        assert [e["ts"] for e in evs] == ts.tolist()
        # the second event's timestamp token uses the expected tag
        body = np.frombuffer(blob, dtype=np.uint8)
        assert tag in body.tolist()

    @pytest.mark.parametrize(
        "delta",
        [0, -(1 << 7), -(1 << 7) + 1, (1 << 7) - 2, (1 << 7) - 1,
         -(1 << 15), -(1 << 15) + 1, (1 << 15) - 2, (1 << 15) - 1,
         -(1 << 31), -(1 << 31) + 1, (1 << 31) - 2, (1 << 31) - 1,
         -(1 << 63), (1 << 63) - 1],
    )
    def test_reference_delta_boundaries(self, delta):
        """test-ir_encoding_methods.cpp decode_next_message_four_byte_
        timestamp_delta: every signed-width boundary delta round-trips,
        with the reference's own tricky message (backslash constant,
        dict vars, small int/float, a 16-digit float that demotes)."""
        msg = (b"Static <\\text>, dictVar1, 123, 456345232.7234223, "
               b"dictVar2, 987, 654.3, end of static text")
        ts = np.array([0, delta], dtype=np.int64)
        blob, _ = _serialize4([msg, msg], ts=ts)
        evs = ir.deserialize_ir_py(blob)
        assert [e["ts"] for e in evs] == [0, delta]
        assert _events_to_messages(evs) == [msg.decode()] * 2
        out = ir.deserialize_ir_many([blob])
        assert out["ts"].tolist() == [0, delta]

    def test_float_layout_golden(self):
        """'-1234567.8': neg=1 digits=12345678 nd=8 dpp=1 → exact bit pattern
        (encoding_methods.inc four-byte branch)."""
        blob, _ = _serialize4([b"x -1234567.8"], ts=np.array([0], dtype=np.int64))
        evs = ir.deserialize_ir_py(blob)
        # parser promotes to 8-byte layout; re-derive the 4-byte pattern
        want4 = (1 << 31) | (12345678 << 6) | ((8 - 1) << 3) | (1 - 1)
        v8 = evs[0]["encoded_vars"][0]
        assert ir4.float4_to_float8(
            np.array([np.int32(want4 - (1 << 32)) if want4 >= (1 << 31) else want4],
                     dtype=np.int64)
        )[0] == v8


class TestDemotion:
    def test_demoted_vars_round_trip_exactly(self):
        blob, _raw = _serialize4(TRICKY)
        evs = ir.deserialize_ir_py(blob)
        assert _events_to_messages(evs) == [m.decode() for m in TRICKY]

    def test_demotion_flips_logtype_placeholder(self):
        raw = _encode([b"big 123456789012345 small 5"])
        assert np.asarray(raw["codes"]).tolist() == [INT_PH, INT_PH]
        blob, _ = _serialize4([b"big 123456789012345 small 5"])
        evs = ir.deserialize_ir_py(blob)
        codes = ir._placeholder_codes_py(evs[0]["logtype"])
        assert codes == [DICT_PH, INT_PH]
        assert evs[0]["dict_vars"] == [b"123456789012345"]
        assert evs[0]["encoded_vars"] == [5]

    def test_float_demotion_preserves_format(self):
        for s in (b"v 000000.45", b"v 123456789.1", b"v -.000012345",
                  b"v 99999999999999.1"):
            blob, _ = _serialize4([s])
            evs = ir.deserialize_ir_py(blob)
            assert _events_to_messages(evs) == [s.decode()]

    def test_fits_stay_encoded(self):
        blob, _ = _serialize4([b"f .12345678 i -2147483648"])
        evs = ir.deserialize_ir_py(blob)
        codes = ir._placeholder_codes_py(evs[0]["logtype"])
        assert codes == [FLOAT_PH, INT_PH]
        assert evs[0]["dict_vars"] == []


class TestParserParity:
    def test_transposed_equals_py(self):
        ts = np.array([10, 5, 100000, 99, -50, 3_000_000_000, 0, 1, 2, 3, 4],
                      dtype=np.int64)
        blob, _ = _serialize4(TRICKY, ts=ts)
        out = ir.deserialize_ir_many([blob])
        evs = ir.deserialize_ir_py(blob)
        assert out["n"] == len(evs)
        assert out["ts"].tolist() == [e["ts"] for e in evs]
        for i, e in enumerate(evs):
            nd = out["nd_values"][out["nd_offsets"][i] : out["nd_offsets"][i + 1]]
            assert nd.tolist() == e["encoded_vars"]
            di = out["d_inner_offsets"]
            ds = [
                out["d_data"][di[j] : di[j + 1]].tobytes()
                for j in range(out["d_offsets"][i], out["d_offsets"][i + 1])
            ]
            assert ds == e["dict_vars"]

    def test_mixed_encoding_batch(self):
        """One deserialize_ir_many call over interleaved 4- and 8-byte blobs."""
        ts = np.arange(len(TRICKY), dtype=np.int64) * 7 + 100
        blob4, raw = _serialize4(TRICKY, ts=ts)
        blob8 = ir.serialize_ir_core(
            ts,
            raw["lt_data"], np.asarray(raw["lt_offsets"], dtype=np.int64),
            np.asarray(raw["codes"]), np.asarray(raw["var_offsets"], dtype=np.int64),
            np.asarray(raw["nd_values"], dtype=np.int64),
            raw["d_data"], np.asarray(raw["d_inner_offsets"], dtype=np.int64),
        ).tobytes()
        out = ir.deserialize_ir_many([blob4, blob8, blob4])
        assert out["n"] == 3 * len(TRICKY)
        assert out["ts"].tolist() == ts.tolist() * 3
        # both encodings decode to the same messages
        n = len(TRICKY)
        for i in range(n):
            lt_a = out["lt_data"][out["lt_offsets"][i] : out["lt_offsets"][i + 1]]
            # 4-byte logtypes may differ (demotions) — compare decoded text via
            # the sequential oracle instead
        msgs4 = _events_to_messages(ir.deserialize_ir_py(blob4))
        msgs8 = _events_to_messages(ir.deserialize_ir_py(blob8))
        assert msgs4 == msgs8 == [m.decode() for m in TRICKY]

    @settings(max_examples=25, deadline=None)
    @given(
        texts=st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                max_size=60,
            ),
            min_size=1,
            max_size=8,
        ),
        ts0=st.integers(min_value=-(1 << 40), max_value=1 << 40),
    )
    def test_fuzz_roundtrip(self, texts, ts0):
        msgs = [t.encode() for t in texts]
        ts = (np.arange(len(msgs), dtype=np.int64) * 977 + ts0)
        blob, _ = _serialize4(msgs, ts=ts)
        evs = ir.deserialize_ir_py(blob)
        assert _events_to_messages(evs) == texts
        out = ir.deserialize_ir_many([blob])
        assert out["n"] == len(msgs) and out["ts"].tolist() == ts.tolist()


class TestSparkSurface:
    def test_messages_survive_four_byte_transit(self, spark):
        """message → encode → 4-byte IR chunks → decode == original, with
        values that force demotions."""
        import pyspark.sql.functions as F

        from clp_spark.functions.arrow_kernel import encode_df
        from clp_spark.operators.decode import decode_df

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = docs.select(
            "source",
            (F.col("doc_id") * 1000).alias("ts"),
            F.concat(
                F.col("text"), F.lit(" n="), F.col("doc_id").cast("string"),
                F.lit(" big="), (F.col("doc_id") + 3_000_000_000).cast("string"),
                F.lit(" f="), F.format_string("%.6f", F.col("doc_id") * 0.123456),
            ).alias("message"),
        ).limit(500)
        encoded = encode_df(df, ["source", "ts"], "message")
        chunks = ir.events_to_ir_df(
            encoded, ts_col="ts", stream_col="source",
            events_per_chunk=64, encoding="four",
        )
        pdf = chunks.toPandas()
        assert all(b[:4] == ir4.MAGIC_4BYTE for b in pdf["ir"])
        back = ir.ir_to_events_df(
            spark.createDataFrame(pdf[["stream", "ir"]]), "ir", "stream"
        )
        decoded = decode_df(back, ["stream", "ts"])
        got = sorted(r["message"] for r in decoded.select("message").collect())
        want = sorted(r["message"] for r in df.select("message").collect())
        assert got == want
        # timestamps survive the delta encoding
        ts_got = sorted(r["ts"] for r in back.select("ts").collect())
        ts_want = sorted(r["ts"] for r in df.select("ts").collect())
        assert ts_got == ts_want
