"""Parity tests: the Arrow message encoder (the per-batch body of the
production ``make_encode_arrow`` / ``encode_df`` path) vs the pure-Python
oracle, over every Arrow string layout a batch can arrive in."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clp_spark.functions.arrow_kernel import (
    encode_arrays,
    make_detok_encode_arrow,
    make_encode_arrow,
)
from clp_spark.oracle import decode_message, encode_message

FIXTURE_MESSAGES = [
    "",
    "plain constant text only",
    "here is a string with a small int 4938 and a very large int 10000000000000000000"
    " and a double -25.5196868642755 and a weird double -00.00 and a str with numbers"
    " python2.7.3 and a str with a backslash and numbers \\a1"
    " and an escape \\ and an int placeholder \x11 and a float placeholder \x13"
    " and a dictionary placeholder \x12",
    "~=x!abc123;1.2%x:+394/-",
    " ad ff 95 24 0d ff ",
    " text \x11 var123 ",
    "2016-05-08 07:34:05,251 INFO Task task_12 took 0.335 s user=alice retries=3",
    "int bounds 9223372036854775807 -9223372036854775808 9223372036854775808"
    " -9223372036854775809 92233720368547758070",
    "floats .1 1. . -00.00 -999999999999999.9 .9999999999999999 12345678901234567.8",
    "zero-pad 007 -0 0 00.1 +1 +1.0",
    "a=-  b=c d=4 =e =9 f= /slash/path_7/x",
    "up-time=3d mixed-0.5-x",
    None,
    "after a null 42",
]

# string: a plain StringArray; large_string: 64-bit offsets (Spark's
# spark.sql.execution.arrow.useLargeVarTypes); sliced: a StringArray with a
# non-zero offset, as a batch cut from a wider array arrives
LAYOUTS = ("string", "large_string", "sliced")


def message_array(messages, layout="string") -> pa.Array:
    if layout == "sliced":
        pad = ["pad 1 head", "pad 2 tail"]
        wide = pa.array(pad + list(messages) + pad, type=pa.string())
        return wide.slice(len(pad), len(messages))
    return pa.array(messages, type=getattr(pa, layout)())


def encode_columns(messages, layout="string") -> dict[str, list]:
    cols = encode_arrays(message_array(messages, layout))
    return {name: col.to_pylist() for name, col in cols.items()}


def assert_batch_matches_oracle(messages, layout="string"):
    out = encode_columns(messages, layout)
    assert all(len(col) == len(messages) for col in out.values())
    for i, msg in enumerate(messages):
        msg = "" if msg is None else msg  # a null message encodes as ""
        exp = encode_message(msg)
        assert out["logtype"][i] == exp.logtype, f"logtype mismatch for {msg!r}"
        assert out["placeholders"][i] == exp.placeholders, f"placeholders for {msg!r}"
        assert out["encoded_vars"][i] == exp.encoded_vars, f"encoded_vars for {msg!r}"
        assert out["dict_vars"][i] == exp.dict_vars, f"dict_vars for {msg!r}"
        # and the batch output round-trips through the oracle decoder
        assert (
            decode_message(out["logtype"][i], out["encoded_vars"][i], out["dict_vars"][i])
            == msg
        )


@pytest.mark.parametrize("layout", LAYOUTS)
def test_fixture_messages(layout):
    assert_batch_matches_oracle(FIXTURE_MESSAGES, layout)


# alphabet biased toward the interesting characters
_ALPHABET = st.sampled_from(
    list("abcdefz ABZ 0123456789 .-+=/\\_:,!%*?\x11\x12\x13\t~[]") + ["é"]
)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.text(_ALPHABET, min_size=0, max_size=60)),
        min_size=1,
        max_size=20,
    )
)
def test_fuzz_parity(messages):
    for layout in LAYOUTS:
        assert_batch_matches_oracle(messages, layout)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-(2**64), max_value=2**64).map(str),
            st.floats(allow_nan=False, allow_infinity=False).map(lambda f: repr(f)),
            st.from_regex(r"-?[0-9]{0,20}\.[0-9]{0,20}", fullmatch=True),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_fuzz_numeric_tokens(tokens):
    for layout in LAYOUTS:
        assert_batch_matches_oracle([" ".join(tokens)], layout)


@pytest.mark.parametrize("messages", [[""], ["", "", ""], [None], [None, ""], []])
def test_all_empty_batch(messages):
    """A batch with no message bytes at all — including the one-row batch,
    which must encode to the empty logtype, not a separator byte."""
    for layout in LAYOUTS:
        assert_batch_matches_oracle(messages, layout)


def test_null_slot_covering_bytes_encodes_empty():
    """Arrow lets a null slot span data bytes; they are not a message."""
    validity = pa.array([True, False, True]).buffers()[1]
    arr = pa.StringArray.from_buffers(
        3, pa.py_buffer(np.array([0, 4, 8, 12], np.int32).tobytes()),
        pa.py_buffer(b"id 1id 2id 3"), validity,
    )
    assert encode_arrays(arr)["logtype"].to_pylist() == ["id \x11", "", "id \x11"]


def test_large_string_batch_through_map_fn():
    """The mapInArrow function reads a large_string message column by its
    64-bit offsets (reading them as 32-bit silently turns every message
    into a logtype of separator bytes)."""
    msgs = ["took 12 ms user=bob", "", "retry 3 of 0.5 s on node-7"]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], pa.int64()), pa.array(msgs, pa.large_string())],
        ["id", "message"],
    )
    (out,) = make_encode_arrow(["id"])(iter([batch]))
    assert out.column("id").to_pylist() == [1, 2, 3]
    for i, msg in enumerate(msgs):
        exp = encode_message(msg)
        assert out.column("logtype")[i].as_py() == exp.logtype
        assert out.column("encoded_vars")[i].as_py() == exp.encoded_vars
        assert out.column("dict_vars")[i].as_py() == exp.dict_vars


def test_detok_empty_token_list():
    """The token-id path: a one-row batch of an empty token list encodes to
    the empty logtype."""
    vocab = ["took", " ", "12"]
    for token_lists in ([[]], [[], []], [[0, 1, 2], []], [[], [0, 1, 2]]):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(token_lists, pa.list_(pa.int32()))], ["tokens"]
        )
        (out,) = make_detok_encode_arrow(vocab, [])(iter([batch]))
        msgs = ["".join(vocab[t] for t in toks) for toks in token_lists]
        assert out.column("logtype").to_pylist() == [
            encode_message(m).logtype for m in msgs
        ]
