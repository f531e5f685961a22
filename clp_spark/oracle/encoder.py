"""Pure-Python reference encoder implementing CLP's tokenize/encode semantics.

This module is the *test oracle*: a direct, row-at-a-time implementation of the
reference rules, used only in pytest to validate the vectorized Spark kernels.
It is intentionally simple and slow — the production path is the Arrow
encoder ``clp_spark.functions.arrow_kernel`` over the numpy kernel
``clp_spark.functions.encode_kernel_np``.

Semantics reproduced (reference file:line, /root/reference):
- delimiter set:                components/core/src/clp/ir/parsing.cpp:20-24
- variable classification:      components/core/src/clp/ir/parsing.cpp:37-88
  (3 rules documented at       components/core/src/clp/ir/parsing.hpp:69-72)
- hex rule:                     components/core/src/clp/ir/parsing.hpp:45-58
- integer encoding:             components/core/src/clp/EncodedVariableInterpreter.cpp:25-62
- float encoding (bit-pack):    components/core/src/clp/EncodedVariableInterpreter.cpp:64-143
- float decoding:               components/core/src/clp/EncodedVariableInterpreter.cpp:145-197
- logtype escaping:             components/core/src/clp/ir/parsing.inc (append_constant_to_logtype)
- placeholder bytes:            components/core/src/clp/ir/types.hpp:17-22
"""

from __future__ import annotations

from dataclasses import dataclass, field

INT_PLACEHOLDER = "\x11"
DICT_PLACEHOLDER = "\x12"
FLOAT_PLACEHOLDER = "\x13"
ESCAPE_CHAR = "\\"

INT64_MIN = -(2**63)
INT64_MAX = 2**63 - 1

_FLOAT_DIGITS_MASK = (1 << 54) - 1  # 54-bit digit field

# A character is a delimiter unless it is one of: + - . 0-9 A-Z a-z \ _
_NON_DELIM = set("+-._\\")
_NON_DELIM.update(chr(c) for c in range(ord("0"), ord("9") + 1))
_NON_DELIM.update(chr(c) for c in range(ord("A"), ord("Z") + 1))
_NON_DELIM.update(chr(c) for c in range(ord("a"), ord("z") + 1))

_HEX_CHARS = set("0123456789abcdefABCDEF")
_DIGITS = set("0123456789")
_ALPHA = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def is_delim(c: str) -> bool:
    return c not in _NON_DELIM


def could_be_multi_digit_hex(token: str) -> bool:
    return len(token) >= 2 and all(c in _HEX_CHARS for c in token)


def variable_bounds(msg: str) -> list[tuple[int, int]]:
    """All (begin, end) spans of variable tokens in ``msg``.

    A token (maximal run of non-delimiters) is a variable iff it contains a
    decimal digit, OR it is directly preceded by '=' and contains a letter,
    OR it could be a multi-digit hex value.
    """
    bounds: list[tuple[int, int]] = []
    n = len(msg)
    end = 0
    while end < n:
        begin = end
        while begin < n and is_delim(msg[begin]):
            begin += 1
        if begin == n:
            break
        has_digit = False
        has_alpha = False
        e = begin
        while e < n:
            c = msg[e]
            if c in _DIGITS:
                has_digit = True
            elif c in _ALPHA:
                has_alpha = True
            elif is_delim(c):
                break
            e += 1
        token = msg[begin:e]
        if (
            has_digit
            or (begin > 0 and msg[begin - 1] == "=" and has_alpha)
            or could_be_multi_digit_hex(token)
        ):
            bounds.append((begin, e))
        end = e
    return bounds


def encode_int(value: str) -> int | None:
    """int64 encoding of a variable token, or None if not representable.

    Rules: non-empty; no '+' sign; '-' must be followed by 1-9; no zero
    padding (a leading '0' only allowed for the single token "0"); all digits;
    must fit in int64.
    """
    if not value:
        return None
    if value[0] == "-":
        if len(value) < 2 or not ("1" <= value[1] <= "9"):
            return None
        body = value[1:]
    else:
        if not ("0" <= value[0] <= "9"):
            return None
        if len(value) > 1 and value[0] == "0":
            return None
        body = value
    if not all(c in _DIGITS for c in body):
        return None
    result = int(value)
    if result < INT64_MIN or result > INT64_MAX:
        return None
    return result


def encode_float(value: str) -> int | None:
    """Bit-packed int64 encoding of a decimal-float token, or None.

    Layout (MSB→LSB): 1 sign | 1 unused | 54 digits-as-int | 4 (num_digits-1)
    | 4 (decimal_pos_from_right-1). Token must be only digits plus exactly one
    '.', not in last place, ≥1 digit, ≤16 digits total, optional leading '-'.
    """
    if not value:
        return None
    pos = 0
    max_length = 16 + 1
    is_negative = False
    if value[0] == "-":
        is_negative = True
        pos = 1
        max_length += 1
    if len(value) > max_length:
        return None
    num_digits = 0
    decimal_point_pos = None
    digits = 0
    for i in range(pos, len(value)):
        c = value[i]
        if "0" <= c <= "9":
            digits = digits * 10 + (ord(c) - ord("0"))
            num_digits += 1
        elif decimal_point_pos is None and c == ".":
            decimal_point_pos = len(value) - 1 - i
        else:
            return None
    if decimal_point_pos is None or decimal_point_pos == 0 or num_digits == 0:
        return None
    encoded = 1 if is_negative else 0
    encoded <<= 55
    encoded |= digits & _FLOAT_DIGITS_MASK
    encoded <<= 4
    encoded |= (num_digits - 1) & 0x0F
    encoded <<= 4
    encoded |= (decimal_point_pos - 1) & 0x0F
    # bit_cast uint64 -> int64
    if encoded >= 1 << 63:
        encoded -= 1 << 64
    return encoded


def decode_float(encoded_var: int) -> str:
    """Inverse of encode_float — exact round-trip of the original token."""
    enc = encoded_var & ((1 << 64) - 1)
    decimal_pos = (enc & 0x0F) + 1
    enc >>= 4
    num_digits = (enc & 0x0F) + 1
    enc >>= 4
    digits = enc & _FLOAT_DIGITS_MASK
    enc >>= 55
    is_negative = enc > 0
    digit_str = str(digits).zfill(num_digits)
    head = digit_str[: num_digits - decimal_pos]
    tail = digit_str[num_digits - decimal_pos :]
    return ("-" if is_negative else "") + head + "." + tail


def escape_constant(constant: str) -> str:
    """Escape '\\' and the three placeholder bytes with a preceding '\\'."""
    out = []
    for c in constant:
        if c == ESCAPE_CHAR or c in (INT_PLACEHOLDER, DICT_PLACEHOLDER, FLOAT_PLACEHOLDER):
            out.append(ESCAPE_CHAR)
        out.append(c)
    return "".join(out)


@dataclass
class EncodedMessage:
    """Per-row encoder output.

    ``placeholders`` lists the placeholder byte (0x11/0x12/0x13) of every
    variable in message order; ``encoded_vars`` holds the int64 encodings of
    the non-dictionary (int/float) variables in message order;
    ``dict_vars`` holds the string values of dictionary variables in order.
    """

    logtype: str
    placeholders: list[int] = field(default_factory=list)
    encoded_vars: list[int] = field(default_factory=list)
    dict_vars: list[str] = field(default_factory=list)


def encode_message(msg: str) -> EncodedMessage:
    logtype_parts: list[str] = []
    placeholders: list[int] = []
    encoded_vars: list[int] = []
    dict_vars: list[str] = []
    last_end = 0
    for begin, end in variable_bounds(msg):
        logtype_parts.append(escape_constant(msg[last_end:begin]))
        token = msg[begin:end]
        iv = encode_int(token)
        if iv is not None:
            placeholders.append(ord(INT_PLACEHOLDER))
            encoded_vars.append(iv)
            logtype_parts.append(INT_PLACEHOLDER)
        else:
            fv = encode_float(token)
            if fv is not None:
                placeholders.append(ord(FLOAT_PLACEHOLDER))
                encoded_vars.append(fv)
                logtype_parts.append(FLOAT_PLACEHOLDER)
            else:
                placeholders.append(ord(DICT_PLACEHOLDER))
                dict_vars.append(token)
                logtype_parts.append(DICT_PLACEHOLDER)
        last_end = end
    logtype_parts.append(escape_constant(msg[last_end:]))
    return EncodedMessage("".join(logtype_parts), placeholders, encoded_vars, dict_vars)


def decode_message(logtype: str, encoded_vars: list[int], dict_vars: list[str]) -> str:
    """Reconstruct the original message from an encoded row."""
    out: list[str] = []
    ei = 0
    di = 0
    i = 0
    n = len(logtype)
    while i < n:
        c = logtype[i]
        if c == ESCAPE_CHAR:
            i += 1
            if i < n:
                out.append(logtype[i])
        elif c == INT_PLACEHOLDER:
            out.append(str(encoded_vars[ei]))
            ei += 1
        elif c == FLOAT_PLACEHOLDER:
            out.append(decode_float(encoded_vars[ei]))
            ei += 1
        elif c == DICT_PLACEHOLDER:
            out.append(dict_vars[di])
            di += 1
        else:
            out.append(c)
        i += 1
    return "".join(out)
