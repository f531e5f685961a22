"""Fully-vectorized CLP decode kernel — the inverse of encode_kernel_np.

Reconstructs original messages from (logtype, encoded_vars, dict_vars) with
*no per-row Python*: the whole batch's logtypes are one uint8 buffer (a
zero-copy view of the Arrow StringArray), and every step — escape resolution,
placeholder substitution, int64 stringification, float bit-unpacking — is
numpy array arithmetic over that buffer (same `_ranges`/cumsum-scatter
toolkit as the encode kernel).

Semantics match clp_spark.oracle.encoder.decode_message (reference:
components/core/src/clp/EncodedVariableInterpreter.hpp:510-579 decode walk,
EncodedVariableInterpreter.cpp:145-197 float decode); the pure-Python oracle
remains the differential-test counterpart.

Escape handling: '\\' escapes the next byte. Escape-active positions are the
even-offset members of each maximal backslash run (a backslash at odd offset
is itself escaped). Runs are evaluated over the concatenated buffer; this is
sound because well-formed logtypes (encoder output) always contain complete
escape pairs, so a run crossing a row boundary contributes an even count from
the earlier row and parity is preserved.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from clp_spark.functions.encode_kernel_np import _ranges, string_buffers

INT_PH = 0x11
DICT_PH = 0x12
FLOAT_PH = 0x13
ESC = 0x5C

_MASK54 = np.uint64((1 << 54) - 1)
_POW10 = np.array([10**i for i in range(19)], dtype=np.int64)


def _escape_active(buf: np.ndarray) -> np.ndarray:
    """Positions of escape-ACTIVE backslashes (the ones that consume the next
    byte); the byte after each is a literal."""
    bs = buf == ESC
    idx = np.flatnonzero(bs)
    if idx.size == 0:
        return idx
    run_start = np.empty(idx.size, dtype=bool)
    run_start[0] = True
    run_start[1:] = np.diff(idx) > 1
    run_id = np.cumsum(run_start) - 1
    run_start_pos = idx[run_start][run_id]
    return idx[(idx - run_start_pos) % 2 == 0]


def decode_core(
    buf: np.ndarray,
    lt_offsets: np.ndarray,
    nd_values: np.ndarray,
    d_data: np.ndarray,
    d_seg_offsets: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """→ (out_data, out_offsets): the reconstructed message string column.

    buf/lt_offsets: concatenated logtypes (lt_offsets[0] == 0).
    nd_values: flattened int64 non-dict encodings, batch order.
    d_data/d_seg_offsets: dict-var string bytes; segment k spans
    d_seg_offsets[k]..d_seg_offsets[k+1] (absolute into d_data).
    """
    n = len(lt_offsets) - 1
    if buf.size == 0:
        return np.zeros(0, np.uint8), np.zeros(n + 1, np.int32)

    esc_pos = _escape_active(buf)
    escaped_lit = np.zeros(buf.size + 1, dtype=bool)
    escaped_lit[np.minimum(esc_pos + 1, buf.size)] = True
    escaped_lit = escaped_lit[: buf.size]

    is_ph = (buf == INT_PH) | (buf == DICT_PH) | (buf == FLOAT_PH)
    ph_pos = np.flatnonzero(is_ph & ~escaped_lit)
    codes = buf[ph_pos]
    nph = ph_pos.size

    is_dict = codes == DICT_PH
    nd_idx = np.cumsum(~is_dict) - 1  # which nd_value each non-dict ph uses
    d_lens = np.diff(d_seg_offsets).astype(np.int64)

    # ---- per-placeholder segment lengths + the concatenated var byte buffer
    seg = np.zeros(nph, dtype=np.int64)
    seg[is_dict] = d_lens

    int_sel = np.flatnonzero(codes == INT_PH)
    if int_sel.size:
        ivals = nd_values[nd_idx[int_sel]]
        istr = ivals.astype("U21")
        ilens = np.char.str_len(istr).astype(np.int64)
        seg[int_sel] = ilens

    float_sel = np.flatnonzero(codes == FLOAT_PH)
    if float_sel.size:
        enc = nd_values[nd_idx[float_sel]].view(np.uint64)
        dec_pos = (enc & np.uint64(0xF)).astype(np.int64) + 1
        ndg = ((enc >> np.uint64(4)) & np.uint64(0xF)).astype(np.int64) + 1
        fdigits = ((enc >> np.uint64(8)) & _MASK54).astype(np.int64)
        fneg = (enc >> np.uint64(63)).astype(np.int64)
        seg[float_sel] = fneg + ndg + 1  # sign? + digits + '.'

    voff = (np.cumsum(seg) - seg).astype(np.int64)
    var_total = int(seg.sum())
    var_data = np.empty(max(var_total, 1), dtype=np.uint8)

    if is_dict.any():
        dl = seg[is_dict]
        src = np.repeat(d_seg_offsets[:-1].astype(np.int64), dl) + _ranges(dl)
        dst = np.repeat(voff[is_dict], dl) + _ranges(dl)
        var_data[dst] = d_data[src]

    if int_sel.size:
        sb = np.char.encode(istr, "ascii")
        w = sb.dtype.itemsize
        mat = sb.view(np.uint8).reshape(int_sel.size, w)
        src = np.repeat(np.arange(int_sel.size, dtype=np.int64) * w, ilens) + _ranges(ilens)
        dst = np.repeat(voff[int_sel], ilens) + _ranges(ilens)
        var_data[dst] = mat.ravel()[src]

    if float_sel.size:
        head = ndg - dec_pos
        fvoff = voff[float_sel]
        j = _ranges(ndg)
        exp = np.repeat(ndg, ndg) - 1 - j
        dchar = ((np.repeat(fdigits, ndg) // _POW10[exp]) % 10 + 48).astype(np.uint8)
        pos_in_seg = np.repeat(fneg, ndg) + j + (j >= np.repeat(head, ndg))
        var_data[np.repeat(fvoff, ndg) + pos_in_seg] = dchar
        var_data[fvoff + fneg + head] = ord(".")
        neg_sel = fneg == 1
        var_data[fvoff[neg_sel]] = ord("-")

    # ---- output assembly: kept chars copy through, placeholders splice segs
    kept = np.ones(buf.size, dtype=bool)
    kept[esc_pos] = False
    kept[ph_pos] = False
    counts = np.zeros(buf.size, dtype=np.int64)
    counts[kept] = 1
    counts[ph_pos] = seg
    prefix = np.zeros(buf.size + 1, dtype=np.int64)
    np.cumsum(counts, out=prefix[1:])
    total = int(prefix[-1])
    out = np.empty(max(total, 1), dtype=np.uint8)
    kp = np.flatnonzero(kept)
    out[prefix[kp]] = buf[kp]
    if var_total:
        dst = np.repeat(prefix[ph_pos], seg) + _ranges(seg)
        out[dst] = var_data[:var_total]
    out_offsets = prefix[lt_offsets].astype(np.int32)
    return out[:total], out_offsets


def _list_flat(arr: pa.Array) -> tuple[pa.Array, int, int]:
    """(child, lo, hi): the slice of a ListArray's child this array covers."""
    odt = np.int64 if pa.types.is_large_list(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    return arr.values, int(offs[0]), int(offs[-1])


def decode_arrays(
    logtype: pa.Array, encoded_vars: pa.Array, dict_vars: pa.Array
) -> pa.Array:
    """(logtype, encoded_vars, dict_vars) Arrow columns → message StringArray.
    All buffer extraction is zero-copy; no Python objects per row."""
    if isinstance(logtype, pa.ChunkedArray):
        logtype = logtype.combine_chunks()
    if isinstance(encoded_vars, pa.ChunkedArray):
        encoded_vars = encoded_vars.combine_chunks()
    if isinstance(dict_vars, pa.ChunkedArray):
        dict_vars = dict_vars.combine_chunks()

    buf, lt_offsets = string_buffers(logtype)

    ev_child, elo, ehi = _list_flat(encoded_vars)
    nd_values = np.asarray(ev_child.to_numpy(zero_copy_only=False), dtype=np.int64)[
        elo:ehi
    ]

    dv_child, dlo, dhi = _list_flat(dict_vars)
    d_data, d_seg_offsets = string_buffers(dv_child.slice(dlo, dhi - dlo))

    out_data, out_offsets = decode_core(buf, lt_offsets, nd_values, d_data, d_seg_offsets)
    return pa.StringArray.from_buffers(
        len(lt_offsets) - 1,
        pa.py_buffer(out_offsets.astype(np.int32, copy=False).tobytes()),
        pa.py_buffer(out_data.tobytes()),
    )
