"""mapInArrow CLP encode: zero per-row Python anywhere.

The one encode path of the engine. It works on pyarrow RecordBatches
directly: messages arrive as a string or large_string array, or tokens as a
ListArray, whose values/offsets are numpy views; the numpy state-machine
kernel (encode_kernel_np.encode_core) produces raw columnar buffers, and the
output ListArray/StringArray columns are built from those buffers in O(1) —
no Python object per row in either direction. A per-row converter (a pandas
UDF) would pay Arrow↔Python conversion for the list/string output columns,
about 10× the kernel cost. This is the hot path the 10^12-row pipeline runs
on.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from clp_spark.functions.encode_kernel_np import (
    encode_core,
    encode_spans,
    string_buffers,
)

ENCODED_ARROW_SCHEMA_SUFFIX = (
    "logtype string, placeholders array<int>, encoded_vars array<long>, "
    "dict_vars array<string>"
)


def _string_array(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    return pa.StringArray.from_buffers(
        len(offsets) - 1,
        pa.py_buffer(offsets.astype(np.int32, copy=False).tobytes()),
        pa.py_buffer(data.tobytes()),
    )


def encoded_arrays_from_core(raw: dict) -> dict[str, pa.Array]:
    """Arrow columns from encode_core's raw buffers — O(columns), not O(rows)."""
    logtype = _string_array(raw["lt_data"], raw["lt_offsets"])
    placeholders = pa.ListArray.from_arrays(
        pa.array(raw["var_offsets"], type=pa.int32()),
        pa.array(raw["codes"].astype(np.int32, copy=False)),
    )
    encoded_vars = pa.ListArray.from_arrays(
        pa.array(raw["nd_offsets"], type=pa.int32()),
        pa.array(raw["nd_values"]),
    )
    dict_inner = _string_array(raw["d_data"], raw["d_inner_offsets"])
    dict_vars = pa.ListArray.from_arrays(
        pa.array(raw["d_offsets"], type=pa.int32()), dict_inner
    )
    return {
        "logtype": logtype,
        "placeholders": placeholders,
        "encoded_vars": encoded_vars,
        "dict_vars": dict_vars,
    }


def vocab_pieces_with_sep(vocab_text: list[str]) -> pa.Array:
    """BinaryArray of vocab pieces plus a trailing 1-byte 0x00 separator piece
    (index = len(vocab)); computed once per executor for tokens_to_buffer."""
    pieces = [t.encode("utf-8") for t in vocab_text] + [b"\x00"]
    return pa.array(pieces, type=pa.binary())


def tokens_to_buffer(
    tokens_col: pa.Array, vocab_pieces: pa.Array
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fused detokenize from a ListArray of token ids → (buf, msg_start, msg_end).

    The byte concatenation happens inside one Arrow C++ ``take``: a separator
    *token* (vocab index V, a 1-byte 0x00 piece) is spliced between messages —
    an O(tokens) int32 scatter — and the take result's value buffer IS the
    separated message buffer. No O(chars) numpy temporaries.
    """
    col = tokens_col.combine_chunks() if isinstance(tokens_col, pa.ChunkedArray) else tokens_col
    if isinstance(col, pa.ListArray):
        offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat_tok = col.values.to_numpy(zero_copy_only=False).astype(np.int32)
    else:  # LargeList
        offsets = np.asarray(col.offsets)
        flat_tok = np.asarray(col.values).astype(np.int32)
    # account for a non-zero starting offset (sliced arrays)
    lo, hi = int(offsets[0]), int(offsets[-1])
    flat_tok = flat_tok[lo:hi]
    offsets = offsets - lo
    n = len(offsets) - 1
    t = len(flat_tok)
    sep_id = len(vocab_pieces) - 1
    if n == 0 or t == 0:  # empty messages: nothing but the separators
        pos = np.arange(n, dtype=np.int64)
        return np.zeros(max(n - 1, 0), dtype=np.uint8), pos, pos

    tok_counts = np.diff(offsets)
    row_of_tok = np.repeat(np.arange(n, dtype=np.int32), tok_counts)
    # token stream with a separator token between consecutive messages
    new_flat = np.full(t + max(n - 1, 0), sep_id, dtype=np.int32)
    new_flat[np.arange(t, dtype=np.int64) + row_of_tok] = flat_tok
    pieces = pa.compute.take(vocab_pieces, pa.array(new_flat, type=pa.int32()))
    buf, piece_offs = string_buffers(pieces)
    # message i spans new-token indices [offsets[i]+i, offsets[i+1]+i)
    row_ix = np.arange(n, dtype=np.int64)
    msg_start = piece_offs[np.minimum(offsets[:-1] + row_ix, t + max(n - 1, 0))]
    msg_end = piece_offs[offsets[1:] + row_ix]
    return buf, msg_start, msg_end


def encode_arrays(messages: pa.Array) -> dict[str, pa.Array]:
    """Message column (string or large_string) → encoded Arrow columns: the
    per-batch body of make_encode_arrow. A null message encodes as the
    empty message."""
    data, offs = string_buffers(messages)
    lens = np.diff(offs)
    if messages.null_count:
        lens[messages.is_null().to_numpy(zero_copy_only=False)] = 0
    return encoded_arrays_from_core(encode_spans(data, offs[:-1], lens))


def _with_encoded(batch: pa.RecordBatch, passthrough: list[str], cols: dict):
    arrays = [batch.column(c) for c in passthrough] + list(cols.values())
    return pa.RecordBatch.from_arrays(arrays, passthrough + list(cols.keys()))


def make_detok_encode_arrow(
    vocab_text: list[str], passthrough: list[str], tokens_col: str = "tokens"
):
    """mapInArrow function: RecordBatch(tokens + passthrough) →
    RecordBatch(passthrough + encoded columns)."""
    vocab_pieces = vocab_pieces_with_sep(vocab_text)

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            raw = encode_core(*tokens_to_buffer(batch.column(tokens_col), vocab_pieces))
            yield _with_encoded(batch, passthrough, encoded_arrays_from_core(raw))

    return _fn


def make_encode_arrow(passthrough: list[str], message_col: str = "message"):
    """mapInArrow function over an existing string message column."""

    def _fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = encode_arrays(batch.column(message_col))
            yield _with_encoded(batch, passthrough, cols)

    return _fn


def passthrough_schema(df, passthrough: list[str], *tail: str) -> str:
    """DDL of a mapInArrow output: the passthrough columns with their types
    in ``df``, then the ``tail`` column specs."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join([f"{c} {types[c]}" for c in passthrough] + list(tail))


def detok_encode_df(df, vocab_text: list[str], passthrough: list[str],
                    tokens_col: str = "tokens"):
    """DataFrame-level helper: tokens → passthrough + encoded columns.

    Prunes the input to exactly (passthrough + tokens) before the Arrow
    exchange — unused columns would otherwise pay row→Arrow conversion.
    """
    df = df.select(*passthrough, tokens_col)
    fn = make_detok_encode_arrow(vocab_text, passthrough, tokens_col)
    schema = passthrough_schema(df, passthrough, ENCODED_ARROW_SCHEMA_SUFFIX)
    return df.mapInArrow(fn, schema)


def encode_df(df, passthrough: list[str], message_col: str = "message"):
    fn = make_encode_arrow(passthrough, message_col)
    schema = passthrough_schema(df, passthrough, ENCODED_ARROW_SCHEMA_SUFFIX)
    return df.mapInArrow(fn, schema)
