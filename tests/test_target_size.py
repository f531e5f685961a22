"""`clo i --target-size` — byte-targeted IR chunk cutting
(clo/CommandLineArguments.cpp:183-187; clp/FileDecompressor.hpp
decompress_to_ir: a chunk closes after the first event that brings the
serializer's size to >= the target, checked before appending the next
event).

Two layers: (1) the exact per-event size helpers are differential-tested
against the serializers' actual output lengths (any drift between the
size math and the write path fails here); (2) the extraction surface is
tested for the close-at-target invariants and event-stream equality with
event-count chunking."""

import os

import numpy as np
import pytest

from clp_spark.functions.encode_kernel_np import encode_spans
from clp_spark.sources import ir_stream as ir
from clp_spark.sources.ir_four import (
    event_ir_sizes4,
    make_preamble4,
    serialize_ir_core4,
)

MSGS = [
    b"job 42 started by alice12 at node-7",
    b"latency 0.75 ms on shard 9000000000000000000",  # demotes in 4-byte
    b"plain text only",
    b"hash deadbeef took 1.5 s retry 3",
    b"x" * 300,  # logtype needs a u16 length header
    b"value -17 from 10.0.0.1",
]
# deltas exercise all four delta widths (i8/i16/i32/i64)
TS = np.cumsum(
    np.array([1_700_000_000_000, 5, 300, 70_000, 3_000_000_000, 40], np.int64)
)


def _cols(msgs):
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    raw = encode_spans(data, np.cumsum(lens) - lens, lens)
    return (
        raw["lt_data"],
        np.asarray(raw["lt_offsets"], dtype=np.int64),
        np.asarray(raw["codes"]),
        np.asarray(raw["var_offsets"], dtype=np.int64),
        np.asarray(raw["nd_values"], dtype=np.int64),
        raw["d_data"],
        np.asarray(raw["d_inner_offsets"], dtype=np.int64),
    )


def _slice(cols, ts, a, b):
    lt_data, lt_o, codes, var_o, nd, d_data, d_in = cols
    is_dict = codes == ir.DICT_PH
    nd_c = np.concatenate([[0], np.cumsum(~is_dict)]).astype(np.int64)
    dv_c = np.concatenate([[0], np.cumsum(is_dict)]).astype(np.int64)
    nd_a, nd_b = nd_c[var_o[a]], nd_c[var_o[b]]
    dv_a, dv_b = dv_c[var_o[a]], dv_c[var_o[b]]
    return (
        ts[a:b],
        lt_data[lt_o[a] : lt_o[b]],
        lt_o[a : b + 1] - lt_o[a],
        codes[var_o[a] : var_o[b]],
        var_o[a : b + 1] - var_o[a],
        nd[nd_a:nd_b],
        d_data[d_in[dv_a] : d_in[dv_b]],
        d_in[dv_a : dv_b + 1] - d_in[dv_a],
    )


def test_event_sizes8_match_serializer():
    """sum of event_ir_sizes8 over any chunk slice + preamble + EOF ==
    the actual serialize_ir_core blob length."""
    cols = _cols(MSGS)
    sizes = ir.event_ir_sizes8(cols[1], cols[2], cols[3], cols[6])
    pre = ir.make_preamble()
    n = len(MSGS)
    for a, b in [(0, n), (0, 1), (2, 5), (4, n), (1, 2)]:
        args = _slice(cols, TS, a, b)
        blob = ir.serialize_ir_core(*args, preamble=pre)
        assert len(blob) == len(pre) + int(sizes[a:b].sum()) + 1, (a, b)


def test_event_sizes4_match_serializer():
    """Four-byte: ev_sizes uses consecutive deltas, ev_first the zero
    first-delta; pre size = base + len(str(first ts)). Any chunk slice's
    predicted size == the actual serialize_ir_core4 blob length
    (demotions included — MSGS[1] demotes its oversize int)."""
    cols = _cols(MSGS)
    ev, ev_first = event_ir_sizes4(TS, *cols)
    ref0 = int(TS[0])
    pre_base = len(make_preamble4(ref0)) - len(str(ref0))
    n = len(MSGS)
    for a, b in [(0, n), (0, 1), (2, 5), (4, n), (1, 3)]:
        args = _slice(cols, TS, a, b)
        blob = serialize_ir_core4(*args)
        want = (
            pre_base
            + len(str(int(TS[a])))
            + int(ev_first[a])
            + int(ev[a + 1 : b].sum())
            + 1
        )
        assert len(blob) == want, (a, b)


def test_byte_chunk_bounds_semantics():
    """Close-at-target: every non-final chunk reaches the target and
    would not without its last event; tiny target → 1-event chunks;
    huge target → one chunk."""
    sizes = np.array([10, 3, 30, 4, 4, 4, 50], dtype=np.int64)
    first = sizes.copy()
    bounds = ir._byte_chunk_bounds(sizes, first, lambda i: 5, 20)
    assert bounds[-1][1] == len(sizes)
    assert [a for a, _ in bounds[1:]] == [b for _, b in bounds[:-1]]
    for k, (a, b) in enumerate(bounds):
        tot = 5 + int(sizes[a:b].sum())
        if k < len(bounds) - 1:
            assert tot >= 20
            assert 5 + int(sizes[a : b - 1].sum()) < 20
    assert ir._byte_chunk_bounds(sizes, first, lambda i: 5, 1) == [
        (i, i + 1) for i in range(len(sizes))
    ]
    assert ir._byte_chunk_bounds(sizes, first, lambda i: 5, 10_000) == [
        (0, len(sizes))
    ]


FILE_A = """\
2016-05-08 07:34:05,251 INFO starting job 42
2016-05-08 07:34:06,002 WARN slow response 120 ms from node-7
2016-05-08 07:34:07,000 ERROR failed after 0.75 s hash deadbeef
2016-05-08 07:34:08,100 INFO retry 1 of 3
2016-05-08 07:34:09,900 INFO done in 4.6 s
"""


@pytest.mark.parametrize("encoding", ["eight", "four"])
def test_extract_target_size(spark, tmp_path, encoding):
    """Extraction with a byte target: same event stream as event-count
    chunking, every non-final chunk >= target bytes (EOF excluded)."""
    from clp_spark.sources.ir_stream import deserialize_ir_py
    from clp_spark.sources.logfiles import (
        compress_text_logs,
        extract_ir_from_archive,
    )

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(FILE_A)
    arch = str(tmp_path / "arch")
    compress_text_logs(spark, f"{d}/*.log", arch)

    target = 260
    out_b = str(tmp_path / f"bytes_{encoding}")
    out_n = str(tmp_path / f"count_{encoding}")
    sb = extract_ir_from_archive(
        spark, arch, out_b, encoding=encoding, target_size=target
    )
    sn = extract_ir_from_archive(
        spark, arch, out_n, encoding=encoding, events_per_chunk=2
    )
    assert sb["events"] == sn["events"] == 5
    assert sb["chunks"] >= 2

    def events(out):
        msgs = []
        names = sorted(
            (n for n in os.listdir(out) if n.endswith(".clp")),
            key=lambda n: int(n.rsplit("_", 2)[1]),
        )
        for n in names:
            msgs.extend(deserialize_ir_py(open(os.path.join(out, n), "rb").read()))
        return msgs

    assert events(out_b) == events(out_n)
    sizes = [
        os.path.getsize(os.path.join(out_b, n))
        for n in sorted(
            (n for n in os.listdir(out_b) if n.endswith(".clp")),
            key=lambda n: int(n.rsplit("_", 2)[1]),
        )
    ]
    for s in sizes[:-1]:
        assert s - 1 >= target  # closed because it reached the target


def test_cli_target_size(spark, tmp_path, capsys):
    import json

    from clp_spark import cli
    from clp_spark.sources.logfiles import compress_text_logs

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text(FILE_A)
    arch = str(tmp_path / "arch")
    compress_text_logs(spark, f"{d}/*.log", arch)
    out = str(tmp_path / "irout")
    cli.main(["i", arch, out, "--target-size", "200"])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["events"] == 5 and summary["chunks"] >= 2
