"""CLP key-value pair IR (the structured kv-IR format): serializer +
transposed deserializer, Spark-first.

Format parity targets (reference components/core/src/clp/ffi/ir_stream/):
- Serializer.cpp:502-560 — stream = 8-byte magic + JSON metadata frame
  (VERSION "0.1.0" — protocol_constants.hpp Metadata::VersionValue), then
  IR units, then EOF 0x00.
- Serializer.cpp:694-768 serialize_schema_tree_node — node insertion unit:
  type tag (0x71 int / 0x72 float / 0x73 bool / 0x74 str / 0x75
  unstructured-array / 0x76 obj), parent-id unit (0x60/0x61/0x62 + signed
  1/2/4-byte id), key string (0x41/0x42/0x43 + u8/u16/u32 length + bytes).
  Node ids are implicit: insertion order per tree, root = 0
  (SchemaTree.hpp:244-247).
- ir_unit_deserialization_methods.cpp:270-445 — log event unit: key-id
  units (0x65/0x66/0x67 + signed id; NEGATIVE = ones-complement =
  auto-generated tree), then one value packet per key in key order; an
  event with no keys is the single byte 0x5E (ValueEmpty).
- Value packets: 0x51/0x52/0x53/0x54 + signed 1/2/4/8-byte int (smallest
  fitting width, Serializer.cpp:290-304); 0x56 + raw IEEE double bits;
  0x57 true / 0x58 false; strings without ' ' as 0x41/0x42/0x43 + len +
  bytes; strings containing ' ' as 0x5A (ValueEightByteEncodingClpStr) +
  the unstructured message serialization (encoded vars + logtype, no
  timestamp — utils.hpp:220-233 serialize_clp_string); 0x5F null.
- UtcOffsetChange: 0x3F + int64 (decoding_methods.cpp:759) — tolerated on
  read, never emitted.

Scope notes (documented intentionally):
- All keys are serialized into the USER-generated schema tree. The
  reference's auto-generated tree carries logging-library-injected fields;
  a Spark pipeline passes those as ordinary columns. The deserializer
  still decodes auto-gen node ids (negative) it may encounter, assigning
  them to a separate id space.
- A NULL leaf value is treated as ABSENT (the key is omitted from that
  event), matching how the reference's DFS only serializes keys present
  in the record. Empty inner maps (ValueEmpty as a value) are not
  representable in the leaf-columnar model.

Everything is numpy on flat leaf columns: O(leaves + distinct-widths)
numpy passes per chunk, no per-row Python. The deserializer is the same
transposed shape as ir_stream.deserialize_ir_many: the vector axis is
across blobs; events are segmented from token-class transitions (a value
token followed by a key/def token closes the event), and key↔value pairing
is pure index math on the per-event runs.
"""

from __future__ import annotations

import json

import numpy as np

from clp_spark.functions.encode_kernel_np import _ranges

MAGIC_8BYTE = bytes([0xFD, 0x2F, 0xB5, 0x30])
KV_VERSION = "0.1.0"

STR_U8, STR_U16, STR_U32 = 0x41, 0x42, 0x43
VAL_I8, VAL_I16, VAL_I32, VAL_I64 = 0x51, 0x52, 0x53, 0x54
VAL_FLOAT = 0x56
VAL_TRUE, VAL_FALSE = 0x57, 0x58
VAL_CLP_STR8 = 0x5A
VAL_EMPTY, VAL_NULL = 0x5E, 0x5F
PARENT_ID_I8, PARENT_ID_I16, PARENT_ID_I32 = 0x60, 0x61, 0x62
KEY_ID_I8, KEY_ID_I16, KEY_ID_I32 = 0x65, 0x66, 0x67
NODE_INT, NODE_FLOAT, NODE_BOOL, NODE_STR, NODE_UARRAY, NODE_OBJ = (
    0x71, 0x72, 0x73, 0x74, 0x75, 0x76,
)
UTC_OFFSET_CHANGE = 0x3F
EOF_BYTE = 0x00

_KIND_TO_NODE_TAG = {
    "int": NODE_INT, "float": NODE_FLOAT, "bool": NODE_BOOL, "str": NODE_STR,
    "uarray": NODE_UARRAY,
}


def _check_str_offsets_fit_int32(offsets) -> None:
    """Arrow StringArray buffers are built from int64 offsets cast to int32;
    a batch with >2 GiB of cumulative string payload would silently wrap and
    corrupt every value. Fail loudly instead — callers should shrink
    `spark.sql.execution.arrow.maxRecordsPerBatch` (or chunk the stream)
    long before one Arrow batch carries 2 GiB of strings."""
    if len(offsets) and int(offsets[-1]) > np.iinfo(np.int32).max:
        raise ValueError(
            "kv-IR batch carries >2 GiB of string payload in one Arrow "
            "batch (offset overflow); reduce the Arrow batch size"
        )


def make_kv_preamble(
    user_metadata: dict | None = None, four: bool = False
) -> bytes:
    """Magic + JSON metadata frame (Serializer.cpp:502-560; nlohmann json =
    std::map, keys sorted, compact). ``four`` selects the four-byte-encoding
    magic (the kv Serializer is templated over both encodings; the encoding
    choice governs how clp-string values pack their variables)."""
    meta = {
        "VARIABLES_SCHEMA_ID": "com.yscope.clp.VariablesSchemaV2",
        "VARIABLE_ENCODING_METHODS_ID": "com.yscope.clp.VariableEncodingMethodsV1",
        "VERSION": KV_VERSION,
    }
    if user_metadata is not None:
        meta["USER_DEFINED_METADATA"] = user_metadata
    payload = json.dumps(
        dict(sorted(meta.items())), separators=(",", ":"), ensure_ascii=False,
        sort_keys=True,
    ).encode("utf-8")
    if len(payload) <= 0xFF:
        hdr = bytes([0x01, 0x11, len(payload)])
    elif len(payload) <= 0xFFFF:
        hdr = bytes([0x01, 0x12]) + len(payload).to_bytes(2, "big")
    else:
        raise ValueError("metadata longer than 64 KiB")
    if four:
        from clp_spark.sources.ir_four import MAGIC_4BYTE

        return MAGIC_4BYTE + hdr + payload
    return MAGIC_8BYTE + hdr + payload


class Leaf:
    """One leaf column of a chunk: a key path and n per-event values.

    kind 'int'   → values int64
    kind 'float' → values float64
    kind 'bool'  → values bool
    kind 'str'   → data uint8 + offsets int64 (n+1)
    kind 'uarray'→ like 'str' (the array's JSON text), but the node is
                   UnstructuredArray and values always clp-encode
    valid[e] False ⇒ the key is absent from event e.
    """

    def __init__(self, path, kind, valid, values=None, data=None, offsets=None):
        self.path = tuple(path)
        if kind not in ("int", "float", "bool", "str", "uarray"):
            raise ValueError(f"unsupported leaf kind {kind!r}")
        self.kind = kind
        self.valid = np.asarray(valid, dtype=bool)
        self.values = None if values is None else np.asarray(values)
        self.data = data
        self.offsets = None if offsets is None else np.asarray(offsets, dtype=np.int64)


def _int_sizes(vals: np.ndarray) -> np.ndarray:
    """Packet size (tag + payload) for ValueInt tiers."""
    return np.select(
        [
            (vals >= -(1 << 7)) & (vals < (1 << 7)),
            (vals >= -(1 << 15)) & (vals < (1 << 15)),
            (vals >= -(1 << 31)) & (vals < (1 << 31)),
        ],
        [2, 3, 5],
        default=9,
    ).astype(np.int64)


def _str_hdr_sizes(lens: np.ndarray) -> np.ndarray:
    return np.where(lens <= 0xFF, 2, np.where(lens <= 0xFFFF, 3, 5)).astype(np.int64)


def _id_unit_size(ids: np.ndarray) -> np.ndarray:
    return np.where(ids <= 0x7F, 2, np.where(ids <= 0x7FFF, 3, 5)).astype(np.int64)


def _write_id_units(buf, pos, ids, tags=(KEY_ID_I8, KEY_ID_I16, KEY_ID_I32)):
    """Key/parent-id units at the given positions (user-gen: positive)."""
    t8, t16, t32 = tags
    m8 = ids <= 0x7F
    m16 = (~m8) & (ids <= 0x7FFF)
    m32 = ~(m8 | m16)
    buf[pos[m8]] = t8
    buf[pos[m8] + 1] = ids[m8].astype(np.uint8)
    buf[pos[m16]] = t16
    if m16.any():
        be = ids[m16].astype(">i2").view(np.uint8).reshape(-1, 2)
        idx = (pos[m16] + 1)[:, None] + np.arange(2, dtype=np.int64)
        buf[idx.ravel()] = be.ravel()
    buf[pos[m32]] = t32
    if m32.any():
        be = ids[m32].astype(">i4").view(np.uint8).reshape(-1, 4)
        idx = (pos[m32] + 1)[:, None] + np.arange(4, dtype=np.int64)
        buf[idx.ravel()] = be.ravel()


def _write_str_packets(buf, pos, lens, data, starts, tags=(STR_U8, STR_U16, STR_U32)):
    from clp_spark.sources.ir_stream import _write_len_tagged

    _write_len_tagged(buf, pos, lens, tags, data, starts)


def _clp_str_parts(
    data: np.ndarray, starts: np.ndarray, lens: np.ndarray, four: bool = False
):
    """encode_spans over the strings ``data[starts[i] : starts[i] + lens[i]]``
    → (per-string serialized size, writer(buf, positions)) for clp-string
    value packets: 0x5A + 8-byte encoded vars, or 0x59 + 4-byte encoded vars
    with oversize-value demotion when ``four`` (utils.hpp
    serialize_clp_string, templated over both encodings)."""
    from clp_spark.functions.encode_kernel_np import DICT_PH, encode_spans
    from clp_spark.sources.ir_stream import (
        LT_I32, LT_U8, LT_U16, VAR_8BYTE, VAR_STR_I32, VAR_STR_U8, VAR_STR_U16,
        _len_header_sizes, _write_len_tagged,
    )

    raw = encode_spans(data, starts, lens)
    codes = np.asarray(raw["codes"])
    var_offsets = np.asarray(raw["var_offsets"], dtype=np.int64)
    nd_values = np.asarray(raw["nd_values"], dtype=np.int64)
    d_data = raw["d_data"]
    d_in = np.asarray(raw["d_inner_offsets"], dtype=np.int64)
    lt_data = raw["lt_data"]
    lt_offs = np.asarray(raw["lt_offsets"], dtype=np.int64)
    if four:
        from clp_spark.sources.ir_four import to_four_byte_columns

        lt_data, codes, nd_values, d_data, d_in = to_four_byte_columns(
            lt_data, lt_offs, codes, var_offsets, nd_values, d_data, d_in
        )

    val_tag = 0x59 if four else VAL_CLP_STR8
    var_tag = 0x18 if four else VAR_8BYTE
    enc_w = 4 if four else 8
    is_dict = codes == DICT_PH
    d_lens = np.diff(d_in).astype(np.int64)
    var_sizes = np.full(len(codes), 1 + enc_w, dtype=np.int64)
    var_sizes[is_dict] = _len_header_sizes(d_lens) + d_lens
    vcs = np.concatenate([[0], np.cumsum(var_sizes)]).astype(np.int64)
    per_msg_var_bytes = vcs[var_offsets[1:]] - vcs[var_offsets[:-1]]
    lt_lens = np.diff(lt_offs).astype(np.int64)
    lt_sizes = _len_header_sizes(lt_lens) + lt_lens
    sizes = 1 + per_msg_var_bytes + lt_sizes  # tag + vars + logtype

    def write(buf: np.ndarray, pos: np.ndarray) -> None:
        buf[pos] = val_tag
        var_counts = np.diff(var_offsets).astype(np.int64)
        nv = len(codes)
        if nv:
            base = np.repeat(vcs[var_offsets[:-1]], var_counts)
            var_pos = np.repeat(pos + 1, var_counts) + (vcs[:nv] - base)
            ep = var_pos[~is_dict]
            buf[ep] = var_tag
            if len(ep):
                dt = ">i4" if four else ">i8"
                be = nd_values.astype(dt).view(np.uint8).reshape(-1, enc_w)
                idx = (ep + 1)[:, None] + np.arange(enc_w, dtype=np.int64)
                buf[idx.ravel()] = be.ravel()
            dp = var_pos[is_dict]
            _write_len_tagged(
                buf, dp, d_lens, (VAR_STR_U8, VAR_STR_U16, VAR_STR_I32),
                d_data, d_in[:-1].astype(np.int64),
            )
        lt_pos = pos + 1 + per_msg_var_bytes
        _write_len_tagged(
            buf, lt_pos, lt_lens, (LT_U8, LT_U16, LT_I32), lt_data,
            lt_offs[:-1].astype(np.int64),
        )

    assert len(sizes) == len(lens)
    return sizes, write


def serialize_kv_ir_core(
    n_events: int,
    leaves: list[Leaf],
    preamble: bytes | None = None,
    eof: bool = True,
    encoding: str = "eight",
) -> np.ndarray:
    """Serialize n events of leaf-columnar kv pairs into one kv-IR blob.

    Schema-tree node definitions are interleaved exactly as the reference
    emits them: each node's insertion unit appears immediately before the
    first event that uses it. Key order within an event = `leaves` order
    (ancestors implicitly precede their leaves).
    """
    # ---- build the (user) schema tree: obj nodes for ancestor paths, one
    # typed node per leaf; insertion order = first-use order, parents first
    nodes = {}  # (path, type_tag) -> node record
    leaf_node = []
    for lf in leaves:
        if len(lf.valid) != n_events:
            raise ValueError("leaf valid mask length != n_events")
        if not lf.valid.any():
            leaf_node.append(None)
            continue
        first = int(np.flatnonzero(lf.valid)[0])
        for depth in range(1, len(lf.path)):
            k = (lf.path[:depth], NODE_OBJ)
            if k not in nodes:
                nodes[k] = {"first": first, "order": len(nodes)}
            else:
                nodes[k]["first"] = min(nodes[k]["first"], first)
        k = (lf.path, _KIND_TO_NODE_TAG[lf.kind])
        if k in nodes:
            raise ValueError(f"duplicate leaf path {lf.path}")
        nodes[k] = {"first": first, "order": len(nodes)}
        leaf_node.append(k)
    # ids by (first use, discovery order) with parents before children —
    # discovery order already puts ancestors first for equal first-use
    ordered = sorted(nodes.items(), key=lambda kv: (kv[1]["first"], kv[1]["order"]))
    for i, (k, rec) in enumerate(ordered):
        rec["id"] = i + 1  # root = 0
    parent_id = {}
    for (path, _tag), rec in nodes.items():
        parent_id[rec["id"]] = (
            nodes[(path[:-1], NODE_OBJ)]["id"] if len(path) > 1 else 0
        )

    # ---- per-(leaf,event) value-packet sizes
    nl = len(leaves)
    sizes = np.zeros((nl, n_events), dtype=np.int64)  # value packet sizes
    clp_writers = []  # deferred writers: (leaf_ix, write_fn, positions placeholder)
    str_meta = []
    for li, lf in enumerate(leaves):
        if leaf_node[li] is None:
            str_meta.append(None)
            continue
        v = lf.valid
        if lf.kind == "int":
            sizes[li, v] = _int_sizes(lf.values[v].astype(np.int64))
        elif lf.kind == "float":
            sizes[li, v] = 9
        elif lf.kind == "bool":
            sizes[li, v] = 1
        else:  # str / uarray
            lens = np.diff(lf.offsets).astype(np.int64)
            # a string containing ' ' serializes as a clp-string; an
            # unstructured array ALWAYS does (Serializer.cpp
            # serialize_value_array uses the clp text encoding throughout)
            if lf.kind == "uarray":
                has_space = np.ones(n_events, dtype=bool)
            else:
                has_space = np.zeros(n_events, dtype=bool)
                if int(lens.sum()):
                    is_sp = lf.data == 0x20
                    csp = np.concatenate([[0], np.cumsum(is_sp)])
                    has_space = (csp[lf.offsets[1:]] - csp[lf.offsets[:-1]]) > 0
            plain = v & ~has_space
            clp = v & has_space
            sizes[li, plain] = _str_hdr_sizes(lens[plain]) + lens[plain]
            if clp.any():
                idx = np.flatnonzero(clp)
                csizes, writer = _clp_str_parts(
                    lf.data, lf.offsets[:-1][idx], lens[idx],
                    four=encoding == "four",
                )
                sizes[li, idx] = csizes
                clp_writers.append((li, idx, writer))
            str_meta.append((lens, has_space))
            continue
        str_meta.append(None)

    # ---- event sizes: key-id units + value packets (or lone ValueEmpty)
    valid_mat = np.stack(
        [lf.valid if leaf_node[li] is not None else np.zeros(n_events, bool)
         for li, lf in enumerate(leaves)]
    ) if nl else np.zeros((0, n_events), dtype=bool)
    leaf_ids = np.array(
        [nodes[k]["id"] if k is not None else 0 for k in leaf_node], dtype=np.int64
    )
    id_sizes = _id_unit_size(leaf_ids)[:, None] * valid_mat
    ev_sizes = id_sizes.sum(axis=0) + (sizes * valid_mat).sum(axis=0)
    empty_ev = ~valid_mat.any(axis=0) if nl else np.ones(n_events, dtype=bool)
    ev_sizes[empty_ev] = 1  # ValueEmpty

    # ---- node-def unit sizes, attached before their first-use event
    def _node_def_size(path, tag, rec):
        key = path[-1].encode("utf-8")
        return 1 + int(_id_unit_size(np.array([parent_id[rec["id"]]]))[0]) + int(
            _str_hdr_sizes(np.array([len(key)]))[0]
        ) + len(key)

    defs_at = np.zeros(n_events, dtype=np.int64)
    for (path, tag), rec in nodes.items():
        defs_at[rec["first"]] += _node_def_size(path, tag, rec)

    pre = np.frombuffer(
        preamble if preamble is not None
        else make_kv_preamble(four=encoding == "four"),
        dtype=np.uint8,
    )
    unit_sizes = defs_at + ev_sizes
    total = len(pre) + int(unit_sizes.sum()) + (1 if eof else 0)
    buf = np.zeros(total, dtype=np.uint8)
    buf[: len(pre)] = pre
    unit_starts = len(pre) + np.cumsum(unit_sizes) - unit_sizes

    # ---- write node defs (few; python loop over NODES, not rows)
    def_cursor = unit_starts.copy()
    for (path, tag), rec in ordered:
        e = rec["first"]
        p = int(def_cursor[e])
        buf[p] = tag
        pid = np.array([parent_id[rec["id"]]], dtype=np.int64)
        _write_id_units(
            buf, np.array([p + 1], dtype=np.int64), pid,
            tags=(PARENT_ID_I8, PARENT_ID_I16, PARENT_ID_I32),
        )
        p2 = p + 1 + int(_id_unit_size(pid)[0])
        key = np.frombuffer(path[-1].encode("utf-8"), dtype=np.uint8)
        _write_str_packets(
            buf, np.array([p2], dtype=np.int64),
            np.array([len(key)], dtype=np.int64), key,
            np.array([0], dtype=np.int64),
        )
        def_cursor[e] = p2 + int(_str_hdr_sizes(np.array([len(key)]))[0]) + len(key)

    ev_starts = unit_starts + defs_at
    buf[ev_starts[empty_ev]] = VAL_EMPTY

    # ---- key-id units: per event, ids of valid leaves in leaf order
    id_cum = np.cumsum(id_sizes, axis=0) - id_sizes  # offset of leaf li's id unit
    for li in range(nl):
        if leaf_node[li] is None:
            continue
        v = leaves[li].valid
        pos = ev_starts[v] + id_cum[li, v]
        _write_id_units(buf, pos, np.full(int(v.sum()), leaf_ids[li], dtype=np.int64))

    # ---- value packets: after all id units, same leaf order
    vals_base = ev_starts + id_sizes.sum(axis=0)
    val_cum = np.cumsum(sizes * valid_mat, axis=0) - sizes * valid_mat
    for li, lf in enumerate(leaves):
        if leaf_node[li] is None:
            continue
        v = lf.valid
        pos = vals_base + val_cum[li]
        if lf.kind == "int":
            vals = lf.values.astype(np.int64)
            for width, tag, dt in ((2, VAL_I8, ">i1"), (3, VAL_I16, ">i2"),
                                   (5, VAL_I32, ">i4"), (9, VAL_I64, ">i8")):
                m = v & (sizes[li] == width)
                if not m.any():
                    continue
                p = pos[m]
                buf[p] = tag
                be = vals[m].astype(dt).view(np.uint8).reshape(-1, width - 1)
                idx = (p + 1)[:, None] + np.arange(width - 1, dtype=np.int64)
                buf[idx.ravel()] = be.ravel()
        elif lf.kind == "float":
            p = pos[v]
            buf[p] = VAL_FLOAT
            be = lf.values[v].astype(">f8").view(np.uint8).reshape(-1, 8)
            idx = (p + 1)[:, None] + np.arange(8, dtype=np.int64)
            buf[idx.ravel()] = be.ravel()
        elif lf.kind == "bool":
            p = pos[v]
            buf[p[lf.values[v]]] = VAL_TRUE
            buf[p[~lf.values[v]]] = VAL_FALSE
        else:
            lens, has_space = str_meta[li]
            plain = v & ~has_space
            if plain.any():
                idx = np.flatnonzero(plain)
                _write_str_packets(
                    buf, pos[plain], lens[idx], lf.data,
                    lf.offsets[:-1][idx].astype(np.int64),
                )
    for li, idx, writer in clp_writers:
        v = leaves[li].valid
        pos = vals_base + val_cum[li]
        writer(buf, pos[idx])
    if eof:
        buf[-1] = EOF_BYTE
    return buf


# ---------------------------------------------------------------------------
# Transposed deserializer
# ---------------------------------------------------------------------------

# token kinds (internal)
_K_ENC_VAR, _K_DICT_VAR, _K_LOGTYPE = 0, 1, 2  # inside a clp-string run
_K_NODE_DEF_BASE = 10  # 10..15 = NODE_INT..NODE_OBJ
_K_KEY_ID = 20
_K_INT, _K_FLOAT, _K_BOOL, _K_STR, _K_NULL, _K_EMPTY, _K_CLP = (
    30, 31, 32, 33, 34, 35, 36,
)
_K_UTC = 40

_NODE_TAGS = (NODE_INT, NODE_FLOAT, NODE_BOOL, NODE_STR, NODE_UARRAY, NODE_OBJ)


def _build_kv_luts():
    """256-entry tag LUTs (same technique as ir_stream._parse_steps): kind,
    fixed signed payload width, length-header width, constant value."""
    from clp_spark.sources.ir_stream import (
        LT_I32, LT_U8, LT_U16, VAR_8BYTE, VAR_STR_I32, VAR_STR_U8, VAR_STR_U16,
    )

    kind = np.full(256, -1, dtype=np.int8)
    vw = np.zeros(256, dtype=np.int64)
    hw = np.zeros(256, dtype=np.int64)
    cval = np.zeros(256, dtype=np.int64)
    for t, k, w in (
        (KEY_ID_I8, _K_KEY_ID, 1), (KEY_ID_I16, _K_KEY_ID, 2),
        (KEY_ID_I32, _K_KEY_ID, 4),
        (VAL_I8, _K_INT, 1), (VAL_I16, _K_INT, 2), (VAL_I32, _K_INT, 4),
        (VAL_I64, _K_INT, 8),
        (VAL_FLOAT, _K_FLOAT, 8),
        (VAR_8BYTE, _K_ENC_VAR, 8),
        (0x18, _K_ENC_VAR, 4),  # VarFourByteEncoding (inside 0x59 clp-strs)
        (UTC_OFFSET_CHANGE, _K_UTC, 8),
    ):
        kind[t] = k
        vw[t] = w
    for t, k, w in (
        (STR_U8, _K_STR, 1), (STR_U16, _K_STR, 2), (STR_U32, _K_STR, 4),
        (VAR_STR_U8, _K_DICT_VAR, 1), (VAR_STR_U16, _K_DICT_VAR, 2),
        (VAR_STR_I32, _K_DICT_VAR, 4),
        (LT_U8, _K_LOGTYPE, 1), (LT_U16, _K_LOGTYPE, 2), (LT_I32, _K_LOGTYPE, 4),
    ):
        kind[t] = k
        hw[t] = w
    for t, k, c in (
        (VAL_TRUE, _K_BOOL, 1), (VAL_FALSE, _K_BOOL, 0),
        (VAL_NULL, _K_NULL, 0), (VAL_EMPTY, _K_EMPTY, 0),
        (VAL_CLP_STR8, _K_CLP, 0),
        (0x59, _K_CLP, 1),  # ValueFourByteEncodingClpStr: cval marks 4-byte
    ):
        kind[t] = k
        cval[t] = c
    for ti, t in enumerate(_NODE_TAGS):
        kind[t] = _K_NODE_DEF_BASE + ti
    return kind, vw, hw, cval


_KV_KIND_LUT, _KV_VW_LUT, _KV_HW_LUT, _KV_CVAL_LUT = _build_kv_luts()


def _build_kv_scan_luts():
    """Python-list LUTs for the sequential boundary scan: fixed total
    advance (1 + value width) for header-less tokens, length-header width
    for string-ish tokens, and node-def membership."""
    adv = [0] * 256
    hw = [0] * 256
    ndef = [False] * 256
    for t in range(256):
        k = int(_KV_KIND_LUT[t])
        if k < 0:
            continue
        if _K_NODE_DEF_BASE <= k < _K_NODE_DEF_BASE + 6:
            ndef[t] = True
        elif int(_KV_HW_LUT[t]) > 0:
            hw[t] = int(_KV_HW_LUT[t])
        else:
            adv[t] = 1 + int(_KV_VW_LUT[t])
    pw = [0] * 256
    for t, w in ((PARENT_ID_I8, 1), (PARENT_ID_I16, 2), (PARENT_ID_I32, 4)):
        pw[t] = w
    kw = [0] * 256
    for t, w in ((STR_U8, 1), (STR_U16, 2), (STR_U32, 4)):
        kw[t] = w
    return adv, hw, ndef, pw, kw


_KV_ADV_L, _KV_HW_L, _KV_NDEF_L, _KV_PW_L, _KV_KW_L = _build_kv_scan_luts()


def _kv_scan_blob(b: bytes, pos: int, end: int, starts: list) -> None:
    """Sequential token-boundary scan of ONE blob: appends each token's
    start offset to `starts`. This is the only inherently sequential part
    of the parse; everything value-shaped is extracted afterwards in one
    vectorized pass (`_kv_extract_tokens`).

    Design note (BENCH r02/r03): the old parser advanced all blobs one
    token per step with ~30 numpy calls per step, so its effective speed
    was proportional to blobs-per-call — great for thousands of short
    blobs, 10x too slow for a Spark task holding a handful of long chunks.
    A tight bytes loop costs ~0.3 us/token regardless of blob count, and
    each Spark task scans its own blobs independently, so the path scales
    with cores instead of with lane width."""
    adv_l, hw_l = _KV_ADV_L, _KV_HW_L
    ndef_l, pw_l, kw_l = _KV_NDEF_L, _KV_PW_L, _KV_KW_L
    append = starts.append
    while pos < end:
        tag = b[pos]
        a = adv_l[tag]
        if a:
            append(pos)
            pos += a
            continue
        h = hw_l[tag]
        if h:
            append(pos)
            hend = pos + 1 + h
            if hend > end:
                raise ValueError("truncated kv-IR stream")
            pos = hend + int.from_bytes(b[pos + 1:hend], "big")
            continue
        if tag == EOF_BYTE:
            return
        if ndef_l[tag]:
            # node def = ONE token: type tag + parent-id unit + key string
            append(pos)
            p1 = pos + 1
            if p1 >= end:
                raise ValueError("truncated kv-IR stream")
            w = pw_l[b[p1]]
            if not w:
                raise ValueError("corrupt kv-IR: bad parent-id tag")
            kp = p1 + 1 + w
            if kp >= end:
                raise ValueError("truncated kv-IR stream")
            kh = kw_l[b[kp]]
            if not kh:
                raise ValueError("corrupt kv-IR: bad key-string tag")
            khe = kp + 1 + kh
            if khe > end:
                raise ValueError("truncated kv-IR stream")
            pos = khe + int.from_bytes(b[kp + 1:khe], "big")
            continue
        raise ValueError(f"corrupt kv-IR tag 0x{tag:02x}")
    if pos > end:
        raise ValueError("truncated kv-IR stream")


def _kv_extract_tokens(big, starts):
    """Vectorized value/span extraction for ALL tokens at once (the scan
    already proved every token well-formed and in-bounds). Returns
    (kinds int64, vals int64, spans [k,2] int64)."""
    from clp_spark.sources.ir_stream import _be_read

    k = len(starts)
    tags = big[starts]
    kinds = _KV_KIND_LUT[tags].astype(np.int64)
    vals = _KV_CVAL_LUT[tags].astype(np.int64)
    vw = _KV_VW_LUT[tags]
    for w in (1, 2, 4, 8):
        m = vw == w
        if m.any():
            vals[m] = _be_read(big, starts[m] + 1, w, signed_small=True)
    hw = _KV_HW_LUT[tags]
    sp0 = np.zeros(k, np.int64)
    sp1 = np.zeros(k, np.int64)
    lp = hw > 0
    if lp.any():
        lens = np.zeros(k, np.int64)
        for w in (1, 2, 4):
            m = hw == w
            if m.any():
                lens[m] = _be_read(big, starts[m] + 1, w)
        s = starts[lp] + 1 + hw[lp]
        sp0[lp] = s
        sp1[lp] = s + lens[lp]
    nd = (kinds >= _K_NODE_DEF_BASE) & (kinds < _K_NODE_DEF_BASE + 6)
    if nd.any():
        pp = starts[nd] + 1
        ptag = big[pp]
        nnd = int(nd.sum())
        praw = np.zeros(nnd, np.int64)
        psz = np.zeros(nnd, np.int64)
        for t, w in ((PARENT_ID_I8, 1), (PARENT_ID_I16, 2), (PARENT_ID_I32, 4)):
            mm = ptag == t
            if mm.any():
                praw[mm] = _be_read(big, pp[mm] + 1, w, signed_small=True)
                psz[mm] = 1 + w
        kp = pp + psz
        ktag = big[kp]
        klen = np.zeros(nnd, np.int64)
        khdr = np.zeros(nnd, np.int64)
        for t, w in ((STR_U8, 1), (STR_U16, 2), (STR_U32, 4)):
            mm = ktag == t
            if mm.any():
                klen[mm] = _be_read(big, kp[mm] + 1, w)
                khdr[mm] = 1 + w
        ks = kp + khdr
        vals[nd] = praw
        sp0[nd] = ks
        sp1[nd] = ks + klen
    return kinds, vals, np.stack([sp0, sp1], axis=1)


def deserialize_kv_ir_many(blobs: list[bytes]) -> dict:
    """Transposed parse of many kv-IR blobs → flat leaf rows + node tables.

    Returns:
      nodes: blob, id, auto, parent, type_tag, key spans resolved to
             (key_data uint8, key_offsets)
      rows:  blob, event_ix, node_id, node_auto, vkind (one of 'int' 30 /
             'float' 31 / 'bool' 32 / 'str' 33 / 'null' 34), int_val,
             float_val, str_data/str_offsets (empty spans for non-str; clp
             strings are decoded back to text)
      n_events: int64 per blob
    """
    from clp_spark.sources.ir_stream import _skip_preamble

    nb = len(blobs)
    empty = {
        "node_blob": np.zeros(0, np.int64), "node_id": np.zeros(0, np.int64),
        "node_auto": np.zeros(0, bool), "node_parent": np.zeros(0, np.int64),
        "node_type": np.zeros(0, np.int64),
        "key_data": np.zeros(0, np.uint8), "key_offsets": np.zeros(1, np.int64),
        "row_blob": np.zeros(0, np.int64), "row_event": np.zeros(0, np.int64),
        "row_node": np.zeros(0, np.int64), "row_auto": np.zeros(0, bool),
        "row_kind": np.zeros(0, np.int8),
        "int_val": np.zeros(0, np.int64), "float_val": np.zeros(0, np.float64),
        "str_data": np.zeros(0, np.uint8), "str_offsets": np.zeros(1, np.int64),
        "n_events": np.zeros(nb, np.int64),
    }
    if nb == 0:
        return empty
    arrs = [np.frombuffer(b, dtype=np.uint8) for b in blobs]
    big = np.concatenate(arrs)
    offs = np.cumsum([0] + [len(a) for a in arrs])[:-1]
    ends = offs + np.array([len(a) for a in arrs], dtype=np.int64)
    start_arrays = []
    blob_counts = np.zeros(nb, dtype=np.int64)
    for i, a in enumerate(arrs):
        # four-byte magic accepted: the encoding choice only governs how
        # clp-string values pack their vars (0x59/0x18 tags, handled by the
        # LUT + the promotion in _decode_clp_runs)
        body, meta, _four = _skip_preamble(a)
        if meta.get("VERSION") != KV_VERSION:
            raise ValueError(
                f"not a kv-IR stream (VERSION {meta.get('VERSION')!r})"
            )
        b = blobs[i] if isinstance(blobs[i], bytes) else bytes(blobs[i])
        lst: list = []
        _kv_scan_blob(b, body, len(b), lst)
        blob_counts[i] = len(lst)
        if lst:
            start_arrays.append(np.array(lst, dtype=np.int64) + offs[i])
    if not start_arrays:
        return empty
    # blob-major sequential order by construction — no sort needed
    starts_all = np.concatenate(start_arrays)
    blob_ids = np.repeat(np.arange(nb, dtype=np.int64), blob_counts)
    kinds, vals, spans = _kv_extract_tokens(big, starts_all)

    def _flat(m):
        st = spans[m, 0]
        lens = (spans[m, 1] - st).astype(np.int64)
        total = int(lens.sum())
        data = big[np.repeat(st, lens) + _ranges(lens)] if total else np.zeros(
            0, np.uint8
        )
        return data, np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)

    # ---- nodes: ids implicit by arrival order per (blob, tree)
    is_def = (kinds >= _K_NODE_DEF_BASE) & (kinds < _K_NODE_DEF_BASE + 6)
    node_blob = blob_ids[is_def]
    praw = vals[is_def]
    node_auto = praw < 0
    node_parent = np.where(node_auto, ~praw, praw)
    # ordinal within (blob, tree), counted across the WHOLE blob: the
    # reference Serializer interleaves auto-gen and user-gen node defs per
    # event, so ids must NOT restart when consecutive defs switch trees
    # (ADVICE r02 high: run-relative numbering gave user ids [1,1] for an
    # interleaved auto/user/auto/user stream). Stable argsort groups each
    # (blob, tree) while preserving arrival order; rank within the group
    # is the definition ordinal.
    keyed = node_blob * 2 + node_auto
    node_id = np.ones(len(keyed), dtype=np.int64)
    if len(keyed):
        grp_order = np.argsort(keyed, kind="stable")
        sorted_keyed = keyed[grp_order]
        grp_first = np.concatenate(
            [[True], sorted_keyed[1:] != sorted_keyed[:-1]]
        )
        pos = np.arange(len(sorted_keyed), dtype=np.int64)
        grp_base = np.repeat(
            pos[grp_first],
            np.diff(np.append(np.flatnonzero(grp_first), len(sorted_keyed))),
        )
        node_id[grp_order] = pos - grp_base + 1
    key_data, key_offsets = _flat(is_def)
    node_type = np.array(
        [_NODE_TAGS[k - _K_NODE_DEF_BASE] for k in kinds[is_def]], dtype=np.int64
    )

    # ---- event segmentation: K=+1, completed value=-1, cum==0 closes
    is_key = kinds == _K_KEY_ID
    is_val_end = np.isin(kinds, (_K_INT, _K_FLOAT, _K_BOOL, _K_STR, _K_NULL,
                                 _K_LOGTYPE))
    is_empty = kinds == _K_EMPTY
    contrib = is_key.astype(np.int64) - is_val_end.astype(np.int64)
    csum = np.cumsum(contrib)
    blob_first = np.concatenate([[True], blob_ids[1:] != blob_ids[:-1]])
    base = np.repeat(
        csum[np.flatnonzero(blob_first)] - contrib[np.flatnonzero(blob_first)],
        np.diff(np.append(np.flatnonzero(blob_first), len(blob_ids))),
    )
    within = csum - base
    if (within < 0).any():
        raise ValueError("corrupt kv-IR: value without a key")
    ev_end = ((within == 0) & is_val_end) | is_empty
    # event ids: cumulative ends BEFORE this token, reset per blob
    ends_cum = np.cumsum(ev_end) - ev_end
    ends_base = np.repeat(
        ends_cum[np.flatnonzero(blob_first)],
        np.diff(np.append(np.flatnonzero(blob_first), len(blob_ids))),
    )
    event_ix = ends_cum - ends_base
    n_events = np.zeros(nb, dtype=np.int64)
    if len(blob_ids):
        np.add.at(n_events, blob_ids[ev_end], 1)
    # trailing unclosed tokens?
    last_of_blob = np.flatnonzero(np.diff(np.append(blob_ids, -1)) != 0)
    open_mask = ~(
        ev_end[last_of_blob]
        | is_def[last_of_blob]
        | (kinds[last_of_blob] == _K_UTC)
    )
    if open_mask.any():
        raise ValueError("incomplete kv-IR stream: trailing unclosed event")

    # ---- pair k-th key with k-th value head per event
    is_vhead = np.isin(kinds, (_K_INT, _K_FLOAT, _K_BOOL, _K_STR, _K_NULL)) | (
        kinds == _K_CLP
    )
    # value heads inside clp runs don't exist (inner kinds differ), so
    # order-of-appearance pairing is exact: both sequences are per-event
    # contiguous and equal-length (the cum==0 invariant)
    k_ix = np.flatnonzero(is_key)
    v_ix = np.flatnonzero(is_vhead)
    if len(k_ix) != len(v_ix):
        raise ValueError("corrupt kv-IR: key/value count mismatch")
    row_blob = blob_ids[k_ix]
    row_event = event_ix[k_ix]
    if not np.array_equal(row_event, event_ix[v_ix]) or not np.array_equal(
        row_blob, blob_ids[v_ix]
    ):
        raise ValueError("corrupt kv-IR: key/value event drift")
    kraw = vals[k_ix]
    row_auto = kraw < 0
    row_node = np.where(row_auto, ~kraw, kraw)
    vk = kinds[v_ix]
    row_kind = vk.astype(np.int8)
    int_val = np.where(vk == _K_INT, vals[v_ix], np.where(vk == _K_BOOL, vals[v_ix], 0))
    # float bits: vals already hold the big-endian-decoded raw int64 bits
    float_val = np.zeros(len(v_ix), dtype=np.float64)
    fm = vk == _K_FLOAT
    if fm.any():
        float_val[fm] = vals[v_ix][fm].view(np.uint64).view(np.float64)

    # ---- string values: plain spans + decoded clp strings, merged per row
    plain = vk == _K_STR
    p_data, p_offs = _flat(v_ix[plain]) if plain.any() else (
        np.zeros(0, np.uint8), np.zeros(1, np.int64)
    )
    clp = vk == _K_CLP
    if clp.any():
        c_texts = _decode_clp_runs(big, blob_ids, kinds, vals, spans, v_ix[clp])
    else:
        c_texts = []
    lens = np.zeros(len(v_ix), dtype=np.int64)
    lens[plain] = np.diff(p_offs)
    c_lens = np.array([len(t) for t in c_texts], dtype=np.int64)
    lens[clp] = c_lens
    str_offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    str_data = np.zeros(int(str_offsets[-1]), dtype=np.uint8)
    if plain.any():
        dest = np.repeat(str_offsets[:-1][plain], np.diff(p_offs)) + _ranges(
            np.diff(p_offs).astype(np.int64)
        )
        str_data[dest] = p_data
    if clp.any() and int(c_lens.sum()):
        cat = np.frombuffer(b"".join(c_texts), dtype=np.uint8)
        dest = np.repeat(str_offsets[:-1][clp], c_lens) + _ranges(c_lens)
        str_data[dest] = cat
    row_kind = np.where(clp, _K_STR, row_kind).astype(np.int8)

    return {
        "node_blob": node_blob, "node_id": node_id, "node_auto": node_auto,
        "node_parent": node_parent, "node_type": node_type,
        "key_data": key_data, "key_offsets": key_offsets,
        "row_blob": row_blob, "row_event": row_event, "row_node": row_node,
        "row_auto": row_auto, "row_kind": row_kind,
        "int_val": int_val.astype(np.int64), "float_val": float_val,
        "str_data": str_data, "str_offsets": str_offsets,
        "n_events": n_events,
    }


def _decode_clp_runs(big, blob_ids, kinds, vals, spans, marker_ix):
    """Decode each 0x5A clp-string run (marker → inner var tokens → logtype)
    back to text with the vectorized decode kernel. O(markers) assembly +
    one decode_arrays call."""
    import pyarrow as pa

    from clp_spark.functions.decode_kernel_np import decode_arrays

    # marker id for every token: index of the last marker at or before it
    is_m = np.zeros(len(kinds), dtype=bool)
    is_m[marker_ix] = True
    mid = np.cumsum(is_m) - 1  # tokens before first marker get -1
    out_n = len(marker_ix)
    enc_m = kinds == _K_ENC_VAR
    dict_m = kinds == _K_DICT_VAR
    lt_m = kinds == _K_LOGTYPE

    def _flat(m):
        st = spans[m, 0]
        lens = (spans[m, 1] - st).astype(np.int64)
        total = int(lens.sum())
        data = big[np.repeat(st, lens) + _ranges(lens)] if total else np.zeros(
            0, np.uint8
        )
        return data, np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)

    lt_data, lt_offs = _flat(lt_m)
    if int(lt_m.sum()) != out_n:
        raise ValueError("corrupt kv-IR: clp-string without logtype")
    # within-marker order is positional; counts per marker
    enc_counts = np.bincount(mid[enc_m], minlength=out_n).astype(np.int64) if enc_m.any() else np.zeros(out_n, np.int64)
    dict_counts = np.bincount(mid[dict_m], minlength=out_n).astype(np.int64) if dict_m.any() else np.zeros(out_n, np.int64)
    d_data, d_in = _flat(dict_m)
    _check_str_offsets_fit_int32(lt_offs)
    lt_arr = pa.StringArray.from_buffers(
        out_n,
        pa.py_buffer(lt_offs.astype(np.int32).tobytes()),
        pa.py_buffer(lt_data.tobytes()),
    )
    enc_vals = vals[enc_m].astype(np.int64) if enc_m.any() else np.zeros(0, np.int64)
    # 0x59 (four-byte) clp-strings: promote float values to the 8-byte
    # layout before decoding — float-ness lives in the logtype placeholders
    four_marks = vals[marker_ix] == 1
    if four_marks.any() and len(enc_vals):
        from clp_spark.functions.encode_kernel_np import DICT_PH, FLOAT_PH
        from clp_spark.sources.ir_four import float4_to_float8
        from clp_spark.sources.ir_stream import codes_from_logtypes

        codes, _voffs = codes_from_logtypes(lt_data, lt_offs)
        nd_codes = codes[codes != DICT_PH]
        if len(nd_codes) != len(enc_vals):
            raise ValueError("clp-string var count disagrees with logtype")
        pm = four_marks[mid[enc_m]] & (nd_codes == FLOAT_PH)
        if pm.any():
            enc_vals = enc_vals.copy()
            enc_vals[pm] = float4_to_float8(enc_vals[pm])
    enc_arr = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(enc_counts)]), type=pa.int32()),
        pa.array(enc_vals),
    )
    _check_str_offsets_fit_int32(d_in)
    d_inner = pa.StringArray.from_buffers(
        int(dict_counts.sum()),
        pa.py_buffer(d_in.astype(np.int32).tobytes()),
        pa.py_buffer(d_data.tobytes()),
    )
    dv_arr = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(dict_counts)]), type=pa.int32()),
        d_inner,
    )
    msgs = decode_arrays(lt_arr, enc_arr, dv_arr)
    return [m.encode("utf-8") for m in msgs.to_pylist()]


# ---------------------------------------------------------------------------
# Spark surface (mapInArrow both directions, like ir_stream)
# ---------------------------------------------------------------------------

KV_CHUNK_SCHEMA = "stream string, chunk_ix long, n_events long, ir binary"
KV_ROW_SCHEMA = (
    "stream string, chunk_ix long, event_ix long, path string, vtype string, "
    "int_val long, float_val double, bool_val boolean, str_val string"
)


def _arrow_col_to_leaves(name_path, col, parent_valid, uarray_paths=frozenset()):
    """Recursively flatten an Arrow column into Leaf objects. NULL = the key
    is absent from that event (see module scope notes)."""
    import pyarrow as pa

    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    valid = (
        np.asarray(col.is_valid().to_numpy(zero_copy_only=False), dtype=bool)
        & parent_valid
    )
    t = col.type
    if pa.types.is_struct(t):
        out = []
        for i in range(t.num_fields):
            out.extend(
                _arrow_col_to_leaves(
                    name_path + (t.field(i).name,), col.field(i), valid,
                    uarray_paths,
                )
            )
        return out
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        # the reference's kv-IR has no timestamp value type — logging
        # libraries serialize time as integer kv pairs; epoch milliseconds
        # here (CLP's native resolution, Defs.h epochtime_t)
        col = col.cast(pa.timestamp("ms")) if pa.types.is_date(t) else col
        vals = np.asarray(
            col.cast(pa.timestamp("ms")).cast(pa.int64()).fill_null(0)
            .to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        return [Leaf(name_path, "int", valid, values=vals)]
    if pa.types.is_integer(t):
        vals = np.asarray(
            col.fill_null(0).to_numpy(zero_copy_only=False), dtype=np.int64
        )
        return [Leaf(name_path, "int", valid, values=vals)]
    if pa.types.is_floating(t):
        vals = np.asarray(
            col.fill_null(0.0).to_numpy(zero_copy_only=False), dtype=np.float64
        )
        return [Leaf(name_path, "float", valid, values=vals)]
    if pa.types.is_boolean(t):
        vals = np.asarray(
            col.fill_null(False).to_numpy(zero_copy_only=False), dtype=bool
        )
        return [Leaf(name_path, "bool", valid, values=vals)]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        from clp_spark.sources.ir_stream import _string_parts

        data, offs = _string_parts(col.fill_null(""))
        # array columns were stringified to their JSON text Spark-side
        # (events_to_kv_ir_df); they serialize as clp-encoded strings on
        # UnstructuredArray nodes, exactly like the reference's
        # serialize_value_array (Serializer.cpp:186-195,386)
        kind = "uarray" if name_path in uarray_paths else "str"
        return [Leaf(name_path, kind, valid, data=data, offsets=offs)]
    raise ValueError(f"unsupported kv-IR leaf type {t} at {'.'.join(name_path)}")


def events_to_kv_ir_df(
    df,
    stream_col: str = "source",
    events_per_chunk: int = 1024,
    order_col: str | None = None,
    encoding: str = "eight",
):
    """Structured rows → chunked kv-IR blobs, one row per chunk. Every
    non-stream column becomes a (possibly nested, via StructType) key; NULL
    values mean the key is absent from that event. ``encoding="four"``
    emits the four-byte-encoding stream (0x59 clp-strings, compact var
    packing, four-byte magic).

    Scale note: the one shuffle repartitions by the stream column, so one
    giant stream serializes in one task. At 100-TB scale salt hot streams
    upstream (stream → concat(stream, pmod(xxhash64(order), K))) — chunks
    are self-contained, so a salted stream's chunks remain independently
    decodable and the shards merge by chunk_ix at read time (the same
    mitigation events_to_ir_df documents)."""
    if encoding not in ("eight", "four"):
        raise ValueError("encoding must be 'eight' or 'four'")
    import pyarrow as pa
    from pyspark.sql import functions as SF
    from pyspark.sql.types import ArrayType, MapType, StructType

    # array/map columns (at any nesting depth) serialize as their JSON text
    # on UnstructuredArray nodes — the reference's serialize_value_array
    # does exactly this (arrays become clp-encoded JSON strings). The
    # stringify happens JVM-side (to_json) before the Arrow hop.
    uarray_paths: set[tuple] = set()

    def _has_container(t) -> bool:
        if isinstance(t, (ArrayType, MapType)):
            return True
        if isinstance(t, StructType):
            return any(_has_container(f.dataType) for f in t.fields)
        return False

    def _xform(col, t, path):
        if isinstance(t, (ArrayType, MapType)):
            uarray_paths.add(path)
            return SF.to_json(col)
        if isinstance(t, StructType) and _has_container(t):
            rebuilt = SF.struct(*[
                _xform(col.getField(f.name), f.dataType,
                       path + (f.name,)).alias(f.name)
                for f in t.fields
            ])
            return SF.when(col.isNotNull(), rebuilt)
        return col

    if any(_has_container(f.dataType) for f in df.schema.fields
           if f.name != stream_col):
        df = df.select(*[
            df[f.name] if f.name == stream_col
            else _xform(df[f.name], f.dataType, (f.name,)).alias(f.name)
            for f in df.schema.fields
        ])
    uarray_paths = frozenset(uarray_paths)

    def _fn(batches):
        next_chunk_ix: dict = {}
        for batch in batches:
            if len(batch) == 0:
                continue
            streams = batch.column(stream_col)
            n = len(batch)
            sidx = (
                streams.combine_chunks() if hasattr(streams, "combine_chunks")
                else streams
            ).dictionary_encode().indices
            sarr = sidx.to_numpy(zero_copy_only=False)
            run_starts = [0] + (np.flatnonzero(np.diff(sarr) != 0) + 1).tolist() if n else []
            run_ends = run_starts[1:] + [n]
            run_streams = streams.take(
                pa.array(run_starts, type=pa.int64())
            ).to_pylist()
            all_leaves = []
            for i, fld in enumerate(batch.schema):
                if fld.name == stream_col:
                    continue
                all_leaves.extend(
                    _arrow_col_to_leaves(
                        (fld.name,), batch.column(i), np.ones(n, dtype=bool),
                        uarray_paths,
                    )
                )
            out_stream, out_ix, out_n, out_ir = [], [], [], []
            for rs, re_, sval in zip(run_starts, run_ends, run_streams):
                for a in range(rs, re_, events_per_chunk):
                    b = min(a + events_per_chunk, re_)
                    chunk_leaves = []
                    for lf in all_leaves:
                        if lf.kind in ("str", "uarray"):
                            chunk_leaves.append(Leaf(
                                lf.path, lf.kind, lf.valid[a:b],
                                data=lf.data[lf.offsets[a]:lf.offsets[b]],
                                offsets=lf.offsets[a:b + 1] - lf.offsets[a],
                            ))
                        else:
                            chunk_leaves.append(Leaf(
                                lf.path, lf.kind, lf.valid[a:b],
                                values=lf.values[a:b],
                            ))
                    blob = serialize_kv_ir_core(
                        b - a, chunk_leaves, encoding=encoding
                    )
                    out_stream.append(sval)
                    ci = next_chunk_ix.get(sval, 0)
                    next_chunk_ix[sval] = ci + 1
                    out_ix.append(ci)
                    out_n.append(b - a)
                    out_ir.append(blob.tobytes())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_stream, type=pa.string()),
                    pa.array(out_ix, type=pa.int64()),
                    pa.array(out_n, type=pa.int64()),
                    pa.array(out_ir, type=pa.binary()),
                ],
                ["stream", "chunk_ix", "n_events", "ir"],
            )

    cols = df.columns
    sort_cols = [stream_col] + ([order_col] if order_col else [])
    sel = df.select(*cols).repartition(stream_col).sortWithinPartitions(*sort_cols)
    if order_col:
        # ordering column is bookkeeping, not event data — drop it after the
        # sort (a projection over a sorted child preserves the ordering),
        # like events_to_ir_df does
        sel = sel.drop(order_col)
    return sel.mapInArrow(_fn, KV_CHUNK_SCHEMA)


_KIND_NAME_TABLE = [""] * 64
for _k, _nm in ((_K_INT, "int"), (_K_FLOAT, "float"), (_K_BOOL, "bool"),
                (_K_STR, "str"), (_K_NULL, "null")):
    _KIND_NAME_TABLE[_k] = _nm
del _k, _nm


def blobs_to_leaf_batch(blobs, svals, cvals):
    """Decode kv-IR blobs into ONE Arrow RecordBatch of leaf rows
    (KV_ROW_SCHEMA). Module-level so the per-core cost is profilable
    outside Spark; kv_ir_to_rows_df is a thin mapInArrow wrapper."""
    import pyarrow as pa

    kn_arr = pa.array(_KIND_NAME_TABLE, type=pa.string())
    out = deserialize_kv_ir_many(blobs)
    # path per (blob, node): nodes are few — python over NODES only
    ko = out["key_offsets"]
    nn = len(out["node_id"])
    # the auto-gen and user-gen schema trees are SEPARATE id spaces
    # (the reference keeps two SchemaTree instances; auto ids are
    # ones-complement on the wire) — every lookup key carries the
    # auto flag so auto node N never collides with user node N
    # (ADVICE r02 medium).
    paths: dict = {}
    path_list = []
    for j in range(nn):
        b, i = int(out["node_blob"][j]), int(out["node_id"][j])
        a = bool(out["node_auto"][j])
        k = out["key_data"][ko[j]:ko[j + 1]].tobytes().decode("utf-8")
        p = int(out["node_parent"][j])
        prefix = paths.get((b, a, p), "") if p else ""
        paths[(b, a, i)] = f"{prefix}.{k}" if prefix else k
        path_list.append(paths[(b, a, i)])
    # rows → path-table indices, vectorized: (blob, tree, id) →
    # table index via searchsorted on the combined key
    nr = len(out["row_blob"])
    max_id = int(out["node_id"].max()) + 1 if nn else 1
    node_key = (
        out["node_blob"] * 2 + out["node_auto"]
    ) * max_id + out["node_id"]
    row_key = (
        out["row_blob"] * 2 + out["row_auto"]
    ) * max_id + out["row_node"]
    order = np.argsort(node_key, kind="stable")
    pos = np.searchsorted(node_key[order], row_key)
    if nr and not np.array_equal(node_key[order][pos], row_key):
        raise ValueError("kv-IR row references an undefined node")
    path_ix = order[pos] if nr else np.zeros(0, dtype=np.int64)
    paths_arr = pa.array(path_list, type=pa.string())
    kinds = out["row_kind"]
    # reference KeyValuePairLogEvent::create validation: a value's
    # type must match its schema-tree node's type (null attaches to
    # Obj nodes)
    ntypes = out["node_type"][path_ix] if nr else np.zeros(0, np.int64)
    expect = np.select(
        [kinds == _K_INT, kinds == _K_FLOAT, kinds == _K_BOOL,
         kinds == _K_STR, kinds == _K_NULL],
        [NODE_INT, NODE_FLOAT, NODE_BOOL, NODE_STR, NODE_OBJ],
        default=0,
    )
    # clp-encoded strings also attach to UnstructuredArray nodes
    # (the reference serializes arrays as clp-encoded JSON text)
    is_uarr = (kinds == _K_STR) & (ntypes == NODE_UARRAY)
    ok = (ntypes == expect) | is_uarr
    if nr and not ok.all():
        bad = int(np.flatnonzero(~ok)[0])
        raise ValueError(
            "kv-IR value type does not match its schema-tree node "
            f"(node type 0x{int(ntypes[bad]):02x}, value kind "
            f"{int(kinds[bad])})"
        )
    # string column straight from the flat buffers + a null bitmap
    # (non-str rows have zero-length spans)
    is_str = kinds == _K_STR
    _check_str_offsets_fit_int32(out["str_offsets"])
    str_arr = pa.StringArray.from_buffers(
        nr,
        pa.py_buffer(out["str_offsets"].astype(np.int32).tobytes()),
        pa.py_buffer(out["str_data"].tobytes()),
        pa.py_buffer(np.packbits(is_str, bitorder="little").tobytes()),
    )
    ridx = pa.array(out["row_blob"], type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pa.compute.take(svals, ridx),
            pa.compute.take(cvals, ridx),
            pa.array(out["row_event"], type=pa.int64()),
            pa.compute.take(paths_arr, pa.array(path_ix, type=pa.int64())),
            pa.compute.if_else(
                pa.array(is_uarr),
                pa.scalar("uarray", type=pa.string()),
                pa.compute.take(
                    kn_arr, pa.array(kinds.astype(np.int64))
                ),
            ),
            pa.array(
                np.where(kinds == _K_INT, out["int_val"], 0),
                type=pa.int64(),
            ),
            pa.array(out["float_val"], type=pa.float64()),
            pa.array(out["int_val"].astype(bool), mask=kinds != _K_BOOL),
            str_arr,
        ],
        ["stream", "chunk_ix", "event_ix", "path", "vtype",
         "int_val", "float_val", "bool_val", "str_val"],
    )

# Output batches are cut at ~this many IR bytes per RecordBatch. One batch
# per INPUT batch (Spark feeds up to 10k blob rows at once) built a single
# multi-million-leaf-row RecordBatch whose allocation + Arrow IPC + JVM
# columnar iteration dominated the whole operator: on a pinned core the
# 3.2M-event replicate set ran 40k ev/s monolithic vs 109k ev/s chunked at
# ~0.5 MB (≈ 115k leaf rows) per batch — 0.95x the pure parse loop.
_LEAF_BATCH_IR_BYTES = 512 * 1024


def _blob_spans(blobs, budget: int):
    """Yield (start, end) index spans covering ``blobs`` with ~``budget``
    IR bytes per span (always at least one blob)."""
    i, nb = 0, len(blobs)
    while i < nb:
        j, acc = i, 0
        while j < nb and (j == i or acc < budget):
            acc += len(blobs[j])
            j += 1
        yield i, j
        i = j


def kv_ir_to_rows_df(df, ir_col: str = "ir", stream_col: str = "stream"):
    """kv-IR blobs → one row per (event, key): (stream, chunk_ix, event_ix,
    path, vtype, typed value columns). The inverse view of
    events_to_kv_ir_df — pivoting on path reconstructs the input columns.
    Zstd-wrapped blobs decode transparently (magic-checked per blob, the
    reference's decompressor nesting, clp_s/InputConfig.cpp:552-563)."""
    import pyarrow as pa

    from clp_spark.sources.zstd_io import maybe_decompress

    def _fn(batches):
        for batch in batches:
            blobs = [maybe_decompress(b) for b in batch.column(ir_col).to_pylist()]
            svals = batch.column(stream_col)
            cvals = (
                batch.column("chunk_ix")
                if "chunk_ix" in batch.schema.names
                else pa.array(np.zeros(len(blobs), dtype=np.int64))
            )
            # group blobs to ~_LEAF_BATCH_IR_BYTES per output batch (leaf
            # rows scale with IR bytes, so the byte budget normalizes
            # across events-per-chunk choices)
            for i, j in _blob_spans(blobs, _LEAF_BATCH_IR_BYTES):
                yield blobs_to_leaf_batch(
                    blobs[i:j], svals.slice(i, j - i), cvals.slice(i, j - i)
                )

    return df.mapInArrow(_fn, KV_ROW_SCHEMA)


KV_JSON_SCHEMA = "stream string, chunk_ix long, event_ix long, json string"


def _render_texts(obj) -> str:
    """Render a nested dict whose keys are ESCAPED JSON key texts and whose
    leaves are final JSON value texts."""
    return "{" + ",".join(
        k + ":" + (v if type(v) is str else _render_texts(v))
        for k, v in obj.items()
    ) + "}"


def _kv_value_texts(out, ntypes) -> list:
    """Per-row final JSON value texts, numpy-vectorized per kind (the
    per-row Python in the record assembly only splices these):
    ints/bools/nulls via astype('U'); floats via numpy's shortest repr
    (dragon4 — same algorithm CPython repr uses) with a vectorized
    cast-back verification and a per-value json.dumps fallback on any
    mismatch; strings escape only where an escapable byte exists (clean
    strings — the common case — just quote-wrap); unstructured-array
    texts splice verbatim."""
    nr = len(out["row_blob"])
    kinds = out["row_kind"]
    iv, fv = out["int_val"], out["float_val"]
    so, sd = out["str_offsets"], out["str_data"]
    vtext = np.empty(nr, dtype=object)
    m = kinds == _K_INT
    if m.any():
        vtext[m] = iv[m].astype("U20")
    m = kinds == _K_BOOL
    if m.any():
        vtext[m] = np.where(iv[m].astype(bool), "true", "false")
    m = kinds == _K_NULL
    if m.any():
        vtext[m] = "null"
    m = kinds == _K_FLOAT
    if m.any():
        txt = fv[m].astype("U32")
        with np.errstate(all="ignore"):
            ok = np.isfinite(fv[m])
            back = np.full(len(txt), np.nan)
            back[ok] = txt[ok].astype(np.float64)
            ok &= back.view(np.int64) == fv[m].view(np.int64)
        vals = txt.astype(object)
        if not ok.all():
            fvals = fv[m]
            for i in np.flatnonzero(~ok):
                vals[i] = json.dumps(float(fvals[i]))
        vtext[m] = vals
    m = kinds == _K_STR
    if m.any():
        ix = np.flatnonzero(m)
        # escapable bytes per string span: '"', '\\', controls < 0x20
        bad = (sd < 0x20) | (sd == 0x22) | (sd == 0x5C)
        lens = so[1:] - so[:-1]
        starts = so[:-1][ix]
        spans_bad = np.zeros(len(ix), dtype=bool)
        nz = lens[ix] > 0
        if nz.any() and len(bad):
            csum = np.concatenate([[0], np.cumsum(bad)])
            spans_bad[nz] = (
                csum[so[1:][ix[nz]]] - csum[starts[nz]]
            ) > 0
        # bulk decode through Arrow (one C pass over the flat buffers)
        # instead of a per-string slice+decode loop; only the rare
        # escapable strings pay a per-row json.dumps
        import pyarrow as pa

        import pyarrow.compute as pc

        # gather ONLY the str rows' byte spans into a compact buffer
        # (vectorized repeat/arange gather), then decode + quote-wrap in
        # two C passes — no per-string Python slicing
        lens_ix = lens[ix]
        new_off = np.concatenate([[0], np.cumsum(lens_ix)]).astype(np.int64)
        _check_str_offsets_fit_int32(new_off)
        pos = np.repeat(starts, lens_ix) + (
            np.arange(new_off[-1], dtype=np.int64)
            - np.repeat(new_off[:-1], lens_ix)
        )
        pa_strs = pa.StringArray.from_buffers(
            len(ix),
            pa.py_buffer(new_off.astype(np.int32).tobytes()),
            pa.py_buffer(sd[pos].tobytes()),
        )
        uarr_m = ntypes[ix] == NODE_UARRAY
        raw_np = pa_strs.to_numpy(zero_copy_only=False)
        quoted_np = pc.binary_join_element_wise(
            '"', pa_strs, '"', ""
        ).to_numpy(zero_copy_only=False)
        out_s = np.where(uarr_m, raw_np, quoted_np)
        fix = spans_bad & ~uarr_m
        if fix.any():
            for j, r in zip(
                np.flatnonzero(fix).tolist(), raw_np[fix].tolist()
            ):
                out_s[j] = json.dumps(r, ensure_ascii=False)
        vtext[m] = out_s
    return vtext


def _render_events_template(out, vtext, path_ix, chain_list):
    """Vectorized record assembly: events sharing the same ordered leaf
    sequence (path + tree flag) share ONE JSON template — constant text
    segments with value slots — so the per-event work collapses to an
    Arrow `binary_join_element_wise` over value columns (C++), with
    Python confined to O(events) signature hashing and O(distinct
    signatures) template construction. This is the clp-s premise again
    (distinct schemas << records) applied to rendering: the old per-row
    dict-merge loop was the documented kv-ingest bottleneck at ~0.4x of
    the parse itself.

    Template construction reuses the exact dict-merge semantics of the
    old loop (duplicate keys overwrite; a later object replaces an
    earlier leaf at the same key) with placeholder tokens, so surviving
    value slots and key order are identical by construction. Returns
    (global_event_index, rendered_text) arrays for events that have at
    least one leaf row; leafless events are filled by the caller."""
    import re as _re

    import pyarrow as pa
    import pyarrow.compute as pc

    rb, re_, ra = out["row_blob"], out["row_event"], out["row_auto"]
    nr = len(rb)
    if not nr:
        return np.zeros(0, np.int64), np.empty(0, dtype=object)
    change = np.empty(nr, dtype=bool)
    change[0] = True
    change[1:] = (rb[1:] != rb[:-1]) | (re_[1:] != re_[:-1])
    ev_start = np.flatnonzero(change)
    ev_end = np.append(ev_start[1:], nr)
    sig_key = path_ix.astype(np.int64) * 2 + ra.astype(np.int64)
    n_events = out["n_events"].astype(np.int64)
    off = np.concatenate([[0], np.cumsum(n_events)])
    g_ix = off[rb[ev_start]] + re_[ev_start]
    groups: dict[bytes, list[int]] = {}
    starts_l, ends_l = ev_start.tolist(), ev_end.tolist()
    for e in range(len(starts_l)):
        groups.setdefault(
            sig_key[starts_l[e]:ends_l[e]].tobytes(), []
        ).append(e)
    out_texts = np.empty(len(ev_start), dtype=object)
    slot_re = _re.compile("\x00(\\d+)\x01")
    for members in groups.values():
        s = starts_l[members[0]]
        length = ends_l[members[0]] - s
        user: dict = {}
        auto: dict = {}
        for li in range(length):
            r = s + li
            chain = chain_list[path_ix[r]]
            d = auto if ra[r] else user
            for seg in chain[:-1]:
                nxt = d.get(seg)
                if type(nxt) is not dict:
                    nxt = d[seg] = {}
                d = nxt
            # \x00<i>\x01 can never appear in template text otherwise:
            # every key is json.dumps-escaped, and values are not in it
            d[chain[-1]] = f"\x00{li}\x01"
        rec = {'"@"': auto, **user} if auto else user
        parts = slot_re.split(_render_texts(rec))
        mstarts = ev_start[members]
        args: list = []
        for i, p in enumerate(parts):
            if i % 2 == 0:
                if p:
                    args.append(p)  # literal segment, broadcast scalar
            else:
                args.append(
                    pa.array(vtext[mstarts + int(p)], type=pa.string())
                )
        mix = np.asarray(members, dtype=np.int64)
        if all(isinstance(a, str) for a in args):
            # every slot was shadowed by the merge — constant record text
            out_texts[mix] = "".join(args)
        else:
            out_texts[mix] = np.asarray(
                pc.binary_join_element_wise(*args, "").to_pylist(),
                dtype=object,
            )
    return g_ix, out_texts


def blobs_to_json_batch(blobs, svals, cvals):
    """Render kv-IR blobs back to ONE JSON record text per event — the
    deserialize half of clp-s's `ingest_kvir` (JsonParser.cpp:920-1060:
    each IR event re-enters the same archive writer the JSON path feeds).

    Auto-generated-tree keys nest under a top-level "@" object: the
    reference renames the auto-gen subtree's root to the "@" namespace in
    the archive schema tree (JsonParser.cpp:1158-1161 cAutogenNamespace),
    so `@.key` addresses them in search, exactly like archives clp-s
    builds from kv-IR. Key order = serialized (schema) order; values are
    exact (ints/bools/strings verbatim, floats shortest-round-trip,
    unstructured-array JSON text spliced unchanged).

    The blob deserialize is the shared vectorized parser; the per-leaf
    record assembly is Python confined to this ingestion boundary (the
    same boundary where JSONL ingestion runs its parse_float lexeme hook
    — no JVM expression can rebuild nested objects from a schema tree
    discovered at runtime). Parallelism comes from blobs across tasks."""
    import pyarrow as pa

    out = deserialize_kv_ir_many(blobs)
    ko = out["key_offsets"]
    nn = len(out["node_id"])
    # per-node key chain root→node as ESCAPED JSON key texts (nodes are
    # few — Python over NODES only); auto and user trees are separate id
    # spaces (see blobs_to_leaf_batch)
    chains: dict = {}
    chain_list: list[tuple] = []
    for j in range(nn):
        b, i = int(out["node_blob"][j]), int(out["node_id"][j])
        a = bool(out["node_auto"][j])
        k = out["key_data"][ko[j]:ko[j + 1]].tobytes().decode("utf-8")
        p = int(out["node_parent"][j])
        parent = chains.get((b, a, p), ()) if p else ()
        ch = parent + (json.dumps(k, ensure_ascii=False),)
        chains[(b, a, i)] = ch
        chain_list.append(ch)
    # row → node-table index (searchsorted on the combined key)
    nr = len(out["row_blob"])
    max_id = int(out["node_id"].max()) + 1 if nn else 1
    node_key = (
        out["node_blob"] * 2 + out["node_auto"]
    ) * max_id + out["node_id"]
    row_key = (
        out["row_blob"] * 2 + out["row_auto"]
    ) * max_id + out["row_node"]
    order = np.argsort(node_key, kind="stable")
    pos = np.searchsorted(node_key[order], row_key)
    if nr and not np.array_equal(node_key[order][pos], row_key):
        raise ValueError("kv-IR row references an undefined node")
    path_ix = order[pos] if nr else np.zeros(0, dtype=np.int64)
    ntypes = out["node_type"][path_ix] if nr else np.zeros(0, np.int64)
    rb, re_, ra = out["row_blob"], out["row_event"], out["row_auto"]
    vtext = _kv_value_texts(out, ntypes)

    g_ix, rendered = _render_events_template(out, vtext, path_ix, chain_list)

    # leafless events ({} on the wire, ValueEmpty) produced no rows —
    # fill every (blob, event) slot from the per-blob event counts
    n_events = out["n_events"].astype(np.int64)
    tot = int(n_events.sum())
    ev_blob = np.repeat(np.arange(len(n_events), dtype=np.int64), n_events)
    off = np.concatenate([[0], np.cumsum(n_events)])
    ev_ix = np.arange(tot, dtype=np.int64) - off[ev_blob]
    texts = np.full(tot, "{}", dtype=object)
    texts[g_ix] = rendered
    ridx = pa.array(ev_blob)
    return pa.RecordBatch.from_arrays(
        [
            pa.compute.take(svals, ridx),
            pa.compute.take(cvals, ridx),
            pa.array(ev_ix),
            pa.array(texts, type=pa.string()),
        ],
        ["stream", "chunk_ix", "event_ix", "json"],
    )


def kv_ir_to_json_df(df, ir_col: str = "ir", stream_col: str = "stream"):
    """kv-IR blobs → (stream, chunk_ix, event_ix, json): one reconstructed
    JSON record per event, auto-gen keys under "@" (see
    blobs_to_json_batch). The bridge from kv-IR streams into the
    JSON-archive compressor (clp-s FileType::KeyValueIr ingestion).
    Zstd-wrapped blobs decode transparently (magic-checked per blob, the
    reference's decompressor nesting, clp_s/InputConfig.cpp:552-563)."""
    import pyarrow as pa

    from clp_spark.sources.zstd_io import maybe_decompress

    cols = [stream_col, ir_col] + (
        ["chunk_ix"] if "chunk_ix" in df.columns else []
    )

    def _fn(batches):
        for batch in batches:
            blobs = [maybe_decompress(b) for b in batch.column(ir_col).to_pylist()]
            svals = batch.column(stream_col)
            cvals = (
                batch.column("chunk_ix")
                if "chunk_ix" in batch.schema.names
                else pa.array(np.zeros(len(blobs), dtype=np.int64))
            )
            # same giant-batch guard as kv_ir_to_rows_df (one output batch
            # per 10k-blob input batch = up to ~10M event rows in a single
            # allocation); the render's per-call overhead is higher than
            # the leaf path's, so the budget is 4x
            for i, j in _blob_spans(blobs, 4 * _LEAF_BATCH_IR_BYTES):
                yield blobs_to_json_batch(
                    blobs[i:j], svals.slice(i, j - i), cvals.slice(i, j - i)
                )

    return df.select(*cols).mapInArrow(_fn, KV_JSON_SCHEMA)


def is_kv_ir_bytes(head: bytes) -> bool:
    """Content sniff over a stream HEAD: does it carry the structured
    kv-IR protocol? Both stream families share the IR magics; the preamble
    metadata VERSION separates them ("0.1.0" = kv,
    protocol_constants.hpp:15-16 — vs "0.0.2" for the kv-free streams).
    The reference deduces input types by content the same way
    (JsonParser.cpp try_create_reader_and_deduce_type). ``head`` must hold
    at least the magic + preamble (64 KiB covers the 0x12 two-byte length
    maximum)."""
    from clp_spark.sources.ir_four import MAGIC_4BYTE

    if head[:4] not in (MAGIC_8BYTE, MAGIC_4BYTE) or len(head) < 7:
        return False
    if head[4] != 0x01:
        return False
    if head[5] == 0x11:
        ln, start = head[6], 7
    elif head[5] == 0x12:
        if len(head) < 8:  # truncated two-byte length — not a kv stream
            return False
        ln, start = (head[6] << 8) | head[7], 8
    else:
        return False
    try:
        meta = json.loads(head[start:start + ln].decode("utf-8"))
    except ValueError:
        return False
    return meta.get("VERSION") == KV_VERSION


def is_kv_ir_file(path: str) -> bool:
    """``is_kv_ir_bytes`` over a LOCAL file, unwrapping a compression
    container first when the magic says so — the reference nests a zstd
    decompressor and re-deduces the inner type
    (clp_s/InputConfig.cpp:552-563), so ``.clp.zst`` kv-IR streams sniff
    identically to raw ones (xz/bz2 accepted as a superset, matching the
    text path's libarchive filter coverage)."""
    from clp_spark.sources.zstd_io import container_kind, container_peek

    try:
        with open(path, "rb") as f:
            head = f.read(65544)
        ckind = container_kind(head[:6])
        if ckind is not None:
            head = container_peek(path, ckind, 65544)
    except (OSError, ValueError, EOFError):
        return False
    return is_kv_ir_bytes(head)


def read_kv_ir_stream_records(
    spark, ir_paths: list[str], rec_ix_base: int = 0,
    with_source: str | None = None,
):
    """kv-IR stream FILES → (raw, _rec_ix) JSON-record lines ready for
    `compress_jsonl_archive` — the clp-s `c` path over kv-IR inputs
    (JsonParser.cpp:663-669 FileType::KeyValueIr → ingest_kvir).
    ``with_source`` names an extra output column carrying the stream
    file's absolute path (range-index bookkeeping).

    One binaryFile task per stream (the reference's sequential
    deserializer unit; parallelism across files) → the vectorized
    deserialize + record render. Ingestion order: files rank in the given
    path order, events by stream position — `_rec_ix = base + (rank<<40)
    + event_ix` is monotone with zero extra passes (no global window, no
    count job; O(files) broadcast rows only)."""
    import os as _os

    from pyspark.sql import functions as F

    blobs = (
        spark.read.format("binaryFile").load(list(ir_paths))
        .select(F.col("path").alias("stream"), F.col("content").alias("ir"))
    )
    lines = kv_ir_to_json_df(blobs)
    rank_rows = [
        (_os.path.abspath(p.removeprefix("file://").removeprefix("file:")), i)
        for i, p in enumerate(ir_paths)
    ]
    ranks = spark.createDataFrame(rank_rows, "abs_path string, _rank long")
    # binaryFile paths are raw (NOT percent-encoded) — url_decode here
    # would corrupt '+' and crash on a literal '%' in a stream file name
    norm = F.regexp_replace("stream", "^file:(//)?", "")
    return (
        lines.withColumn("abs_path", norm)
        .join(F.broadcast(ranks), "abs_path")
        .select(
            F.col("json").alias("raw"),
            (
                F.lit(int(rec_ix_base))
                + F.shiftleft(F.col("_rank"), 40)
                + F.col("event_ix")
            ).alias("_rec_ix"),
            *([F.col("abs_path").alias(with_source)] if with_source else []),
        )
    )

