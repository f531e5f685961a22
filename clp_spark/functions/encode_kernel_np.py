"""Fully-vectorized CLP encode kernel: a numpy character-class state machine.

Same semantics as clp_spark.oracle.encoder (reference rules:
components/core/src/clp/ir/parsing.cpp:20-88,
EncodedVariableInterpreter.cpp:25-143) but with *no regex and no per-row
scanning*: the whole Arrow batch is concatenated into one uint8 buffer and
every step — tokenization, variable classification, int/float parsing and
bit-packing, escaping, logtype assembly — is numpy array arithmetic over that
buffer. The output is raw columnar buffers that become Arrow arrays directly
(arrow_kernel.encoded_arrays_from_core); no Python object is made per row.

This is the one encode implementation of the engine; the per-row oracle
(clp_spark.oracle.encoder) is its differential-test counterpart.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

INT_PH = 0x11
DICT_PH = 0x12
FLOAT_PH = 0x13
ESC = 0x5C  # '\'

# ---- 256-entry character class tables ----
_NONDELIM = np.zeros(256, dtype=bool)
for _c in b"+-._\\":
    _NONDELIM[_c] = True
_NONDELIM[ord("0") : ord("9") + 1] = True
_NONDELIM[ord("A") : ord("Z") + 1] = True
_NONDELIM[ord("a") : ord("z") + 1] = True

_DIGIT = np.zeros(256, dtype=bool)
_DIGIT[ord("0") : ord("9") + 1] = True

_ALPHA = np.zeros(256, dtype=bool)
_ALPHA[ord("A") : ord("Z") + 1] = True
_ALPHA[ord("a") : ord("z") + 1] = True

_HEX = np.zeros(256, dtype=bool)
_HEX[ord("0") : ord("9") + 1] = True
_HEX[ord("a") : ord("f") + 1] = True
_HEX[ord("A") : ord("F") + 1] = True

# digit | alpha<<21 | hex<<42 — one gather + one cumsum classifies all
# three per-token counts at once (see _classify)
_PACKED_CLASS = (
    _DIGIT.astype(np.int64)
    | (_ALPHA.astype(np.int64) << 21)
    | (_HEX.astype(np.int64) << 42)
)

_NEED_ESC = np.zeros(256, dtype=bool)
for _c in (ESC, INT_PH, DICT_PH, FLOAT_PH):
    _NEED_ESC[_c] = True

_POW10 = np.array([10**i for i in range(19)], dtype=np.int64)

_INT64_MIN_BODY = "9223372036854775808"
_INT64_MAX_STR = "9223372036854775807"


def _ranges(lengths: np.ndarray) -> np.ndarray:
    """[0..l0-1, 0..l1-1, ...] for segment lengths (vectorized arange, int32)."""
    total = int(lengths.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int32)
    starts = (np.cumsum(lengths) - lengths).astype(np.int32)
    out = np.arange(total, dtype=np.int32)
    out -= np.repeat(starts, lengths.astype(np.int32))
    return out


def string_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of a ``string`` / ``binary`` Arrow array or its
    ``large_`` twin: int64 offsets rebased to 0 over the array's slice, and
    data trimmed to the slice's span (a zero-copy view). The one reader of
    both offset widths, shared by the encode and decode kernels."""
    if len(arr) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
    odt = np.int64 if large else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
    return data, offs - offs[0]


def _token_spans(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if len(buf) == 0:  # e.g. a batch of only empty messages
        z = np.zeros(0, dtype=np.int32)
        return z, z
    nd = _NONDELIM[buf]
    prev_nd = np.empty_like(nd)
    prev_nd[0] = False
    prev_nd[1:] = nd[:-1]
    ts = np.flatnonzero(nd & ~prev_nd).astype(np.int32)
    next_nd = np.empty_like(nd)
    next_nd[-1] = False
    next_nd[:-1] = nd[1:]
    te = (np.flatnonzero(nd & ~next_nd) + 1).astype(np.int32)
    return ts, te


def _classify(
    buf: np.ndarray, ts: np.ndarray, te: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(vts, vte, codes, values): variable token spans, placeholder codes,
    and int64 encodings for int/float variables."""
    # ---- per-token class counts: ONE packed cumsum + two gathers ----
    # count in [ts, te) = c[te-1] - (c[ts] - mask[ts]). The three class
    # masks pack into 21-bit fields of one int64 (digit | alpha<<21 |
    # hex<<42), so the O(chars) prefix sum runs once instead of three
    # times — measured 50 ms → 18 ms on a 5 MB buffer (fields can't carry
    # into each other while every token is shorter than 2^21 chars; the
    # guard below falls back to per-class sums for degenerate inputs).
    L = te - ts
    if L.size and int(L.max()) >= (1 << 21):
        dmask = _DIGIT[buf]
        cd = np.cumsum(dmask, dtype=np.int32)
        cnt_d = (cd[te - 1] - cd[ts] + dmask[ts]).astype(np.int64)
        amask = _ALPHA[buf]
        ca = np.cumsum(amask, dtype=np.int32)
        cnt_a = (ca[te - 1] - ca[ts] + amask[ts]).astype(np.int64)
        hmask = _HEX[buf]
        ch = np.cumsum(hmask, dtype=np.int32)
        cnt_h = (ch[te - 1] - ch[ts] + hmask[ts]).astype(np.int64)
    else:
        pm = _PACKED_CLASS[buf]
        cp = np.cumsum(pm)
        tot = cp[te - 1] - cp[ts] + pm[ts]
        m21 = (1 << 21) - 1
        cnt_d = tot & m21
        cnt_a = (tot >> 21) & m21
        cnt_h = (tot >> 42) & m21
    has_digit = cnt_d > 0
    has_alpha = cnt_a > 0
    all_hex = cnt_h == L
    prec_eq = np.zeros(ts.size, dtype=bool)
    nz = ts > 0
    prec_eq[nz] = buf[ts[nz] - 1] == ord("=")
    is_var = has_digit | (prec_eq & has_alpha) | (all_hex & (L >= 2))

    vts = ts[is_var]
    vte = te[is_var]
    nv = vts.size
    codes = np.full(nv, DICT_PH, dtype=np.int16)
    values = np.zeros(nv, dtype=np.int64)

    if nv:
        VL = vte - vts
        first = buf[vts]
        neg = first == ord("-")
        body_len = (VL - neg).astype(np.int64)
        digits_in = cnt_d[is_var].astype(np.int64)
        all_digits = digits_in == body_len

        # ---- integer rule ----
        lead = buf[np.minimum(vts + neg, buf.size - 1)]
        lead_ok_pos = ~neg & _DIGIT[first] & ((VL == 1) | (first != ord("0")))
        lead_ok_neg = neg & (VL >= 2) & (lead >= ord("1")) & (lead <= ord("9"))
        int_shape = all_digits & (body_len >= 1) & (lead_ok_pos | lead_ok_neg)
        int_fast = int_shape & (body_len <= 18)
        if int_fast.any():
            sel = np.flatnonzero(int_fast)
            starts = vts[sel] + neg[sel]
            blens = body_len[sel]
            cpos = np.repeat(starts, blens) + _ranges(blens)
            dvals = (buf[cpos].astype(np.int64)) - 48
            exps = np.repeat(vte[sel], blens) - cpos - 1
            contrib = dvals * _POW10[exps]
            seg_off = np.cumsum(blens) - blens
            sums = np.add.reduceat(contrib, seg_off)
            sums = np.where(neg[sel], -sums, sums)
            codes[sel] = INT_PH
            values[sel] = sums
        int_slow = int_shape & (body_len == 19)
        for i in np.flatnonzero(int_slow):
            tok = buf[vts[i] : vte[i]].tobytes().decode("ascii")
            body = tok.lstrip("-")
            bound = _INT64_MIN_BODY if tok[0] == "-" else _INT64_MAX_STR
            if body <= bound:
                codes[i] = INT_PH
                values[i] = np.int64(int(tok)) if tok != "-" + _INT64_MIN_BODY else np.int64(
                    -(2**63)
                )
        # body_len > 19 → never an int

        # ---- float rule (tokens not already ints) ----
        dotpos = np.flatnonzero(buf == ord(".")).astype(np.int32)
        dot_lo = np.searchsorted(dotpos, vts)
        dots_in = np.searchsorted(dotpos, vte) - dot_lo
        not_int = codes != INT_PH
        last_is_dot = buf[vte - 1] == ord(".")
        float_shape = (
            not_int
            & (digits_in + dots_in == body_len)
            & (dots_in == 1)
            & ~last_is_dot
            & (digits_in >= 1)
            & (digits_in <= 16)
            & (body_len >= 2)
            & (~neg | (VL >= 2))
        )
        if float_shape.any():
            sel = np.flatnonzero(float_shape)
            starts = vts[sel] + neg[sel]
            blens = body_len[sel]
            # each selected token has exactly one '.': its position
            dot_global = dotpos[dot_lo[sel]]
            cpos = np.repeat(starts, blens) + _ranges(blens)
            cvals = buf[cpos]
            isdig = cvals != ord(".")
            te_rep = np.repeat(vte[sel], blens)
            dot_rep = np.repeat(dot_global, blens)
            # rank of each digit from the right = chars to its right minus the
            # dot if the dot sits to its right
            rank = (te_rep - 1 - cpos) - (dot_rep > cpos)
            contrib = np.where(isdig, (cvals.astype(np.int64) - 48) * _POW10[rank], 0)
            seg_off = np.cumsum(blens) - blens
            digits_int = np.add.reduceat(contrib, seg_off).astype(np.uint64)
            decimal_pos = (vte[sel] - 1 - dot_global).astype(np.uint64)
            num_digits = (blens - 1).astype(np.uint64)  # exactly one dot
            sign = neg[sel].astype(np.uint64)
            enc = (
                (sign << np.uint64(63))
                | (digits_int << np.uint64(8))
                | ((num_digits - np.uint64(1)) << np.uint64(4))
                | (decimal_pos - np.uint64(1))
            )
            codes[sel] = FLOAT_PH
            values[sel] = enc.view(np.int64)

    return vts, vte, codes, values


def encode_core(buf: np.ndarray, msg_start: np.ndarray, msg_end: np.ndarray) -> dict:
    """Zero-per-row encode: returns raw columnar buffers, suitable for direct
    Arrow array construction (see arrow_kernel.py).

    Keys: lt_data/lt_offsets (logtype string column), codes/var_offsets
    (placeholders list column), nd_values/nd_offsets (encoded_vars), and
    d_data/d_inner_offsets/d_offsets (dict_vars list<string>).
    """
    n = len(msg_start)
    ts, te = _token_spans(buf)
    if ts.size == 0:
        vts = vte = np.zeros(0, np.int32)
        codes = np.zeros(0, np.int16)
        values = np.zeros(0, np.int64)
    else:
        vts, vte, codes, values = _classify(buf, ts, te)
    return _raw_columns(n, buf, msg_start, msg_end, vts, vte, codes, values)


def encode_spans(data: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> dict:
    """encode_core over the messages ``data[starts[i] : starts[i] + lens[i]]``.

    Tokens must not span messages, so the spans are gathered — one
    vectorised gather for the whole batch — into a zeroed buffer with one
    0x00 separator (a delimiter) between neighbours. The only builder of
    that layout from string spans; tokens_to_buffer builds it from token
    ids.
    """
    lens = np.asarray(lens, dtype=np.int64)
    n = lens.size
    msg_start = np.cumsum(lens + 1) - (lens + 1)
    buf = np.zeros(int(lens.sum()) + max(n - 1, 0), dtype=np.uint8)
    r = _ranges(lens)
    buf[np.repeat(msg_start, lens) + r] = data[
        np.repeat(np.asarray(starts, dtype=np.int64), lens) + r
    ]
    return encode_core(buf, msg_start, msg_start + lens)


def _raw_columns(n, buf, msg_start, msg_end, vts, vte, codes, values) -> dict:
    # ---- logtype output construction ----
    # in-var mask via +1/-1 diff trick; var starts/ends are all distinct
    # positions (a token's end char is a delimiter, never another token's
    # start), so plain fancy assignment replaces the much slower np.add.at
    delta = np.zeros(buf.size + 1, dtype=np.int8)
    delta[vts] = 1
    delta[vte] = -1
    in_var = np.cumsum(delta[:-1]) > 0

    # separator bytes sit at msg_end[i] for i < n-1
    sep = np.zeros(buf.size, dtype=bool)
    if n > 1:
        sep[msg_end[:-1]] = True

    keep = ~in_var & ~sep
    esc = keep & _NEED_ESC[buf]
    counts = np.zeros(buf.size, dtype=np.int32)
    counts[keep] = 1
    counts[esc] += 1
    counts[vts] += 1  # placeholder byte emitted at var start

    prefix = np.zeros(buf.size + 1, dtype=np.int32)
    np.cumsum(counts, dtype=np.int32, out=prefix[1:])
    total = int(prefix[-1])
    out = np.empty(max(total, 1), dtype=np.uint8)

    keep_pos = np.flatnonzero(keep)
    off = prefix[keep_pos]
    esc_k = esc[keep_pos]
    out[off + esc_k] = buf[keep_pos]
    out[off[esc_k]] = ESC
    out[prefix[vts]] = codes.astype(np.uint8)

    # per-row logtype offsets: separators contribute nothing, so rows are
    # contiguous in `out` — offsets come straight from the prefix array
    lt_offsets = np.empty(n + 1, dtype=np.int32)
    lt_offsets[:n] = prefix[msg_start]
    lt_offsets[n] = total

    # ---- per-row splits ----
    row_of_var = np.searchsorted(msg_start, vts, side="right") - 1
    var_offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(row_of_var, minlength=n), out=var_offsets[1:])

    is_dict = codes == DICT_PH
    nd_values = values[~is_dict]
    nd_offsets = np.zeros(n + 1, dtype=np.int32)
    d_offsets = np.zeros(n + 1, dtype=np.int32)
    if vts.size:
        np.cumsum(np.bincount(row_of_var[~is_dict], minlength=n), out=nd_offsets[1:])
        np.cumsum(np.bincount(row_of_var[is_dict], minlength=n), out=d_offsets[1:])

    # dict-var string column: gather the spans into one contiguous buffer
    d_vts = vts[is_dict]
    d_vte = vte[is_dict]
    dl = (d_vte - d_vts).astype(np.int64)
    d_data = buf[np.repeat(d_vts, dl) + _ranges(dl)] if d_vts.size else np.zeros(0, np.uint8)
    d_inner_offsets = np.zeros(d_vts.size + 1, dtype=np.int32)
    np.cumsum(dl, out=d_inner_offsets[1:])

    return {
        "n": n,
        "lt_data": out[:total],
        "lt_offsets": lt_offsets,
        "codes": codes,
        "var_offsets": var_offsets,
        "nd_values": nd_values,
        "nd_offsets": nd_offsets,
        "d_data": d_data,
        "d_inner_offsets": d_inner_offsets,
        "d_offsets": d_offsets,
    }
