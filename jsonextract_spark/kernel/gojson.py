"""Go ``encoding/json`` / ``strconv`` parity helpers.

The reference emits JSON through Go's standard library, whose observable
behavior differs from Python's ``json`` in three places we must match:

1. ``json.Marshal`` of a string HTML-escapes ``<``, ``>``, ``&`` (to
   ``\\u003c``/``\\u003e``/``\\u0026``) and escapes U+2028/U+2029; control
   chars use lowercase ``\\u00xx``. (Used by the reference at
   reader.go:332, 350, 428 for unquoted keys, regex literals, templates.)
2. ``json.Valid`` accepts RFC 8259 exactly: no ``NaN``/``Infinity``, no
   leading zeros, no trailing garbage; arbitrarily large numbers are fine
   because it never converts them. (Gate at reader.go:83.)
3. ``strconv.ParseUint(s, 0, 64)`` base auto-detection incl. legacy octal
   (leading 0), ``0b/0o/0x`` prefixes and underscore separators.
   (Used by transformNumber, reader.go:493.)

All of this is re-implemented here from the *documented public behavior*
of the Go standard library — no reference code is copied.
"""

from __future__ import annotations

import json
import re

_U64_MAX = (1 << 64) - 1

# Characters Go escapes specially inside marshaled strings.
_GO_STR_ESCAPES = {
    '"': '\\"',
    "\\": "\\\\",
    "\n": "\\n",
    "\r": "\\r",
    "\t": "\\t",
    "<": "\\u003c",
    ">": "\\u003e",
    "&": "\\u0026",
    " ": "\\u2028",
    " ": "\\u2029",
}


# Any character marshal_string does not copy through verbatim.
_NEEDS_ESCAPE = re.compile(r'[\x00-\x1f"\\<>&\u2028\u2029]')


def marshal_string(s: str) -> str:
    """Compact Go ``json.Marshal`` of a Python string (HTML escaping on)."""
    if _NEEDS_ESCAPE.search(s) is None:
        return '"' + s + '"'
    parts = ['"']
    append = parts.append
    esc = _GO_STR_ESCAPES
    for ch in s:
        e = esc.get(ch)
        if e is not None:
            append(e)
        elif ch < " ":
            append("\\u%04x" % ord(ch))
        else:
            append(ch)
    append('"')
    return "".join(parts)


def marshal_string_bytes(b: bytes) -> bytes:
    """marshal_string over UTF-8 bytes (invalid sequences -> U+FFFD, like Go)."""
    return marshal_string(b.decode("utf-8", "replace")).encode("utf-8")


def _reject_constant(name):  # NaN / Infinity / -Infinity are invalid JSON
    raise ValueError(name)


def json_valid(data) -> bool:
    """Parity with Go ``json.Valid``.

    Python's C-accelerated ``json.loads`` matches RFC 8259 except that it
    accepts ``NaN``/``Infinity``/``-Infinity`` — we reject those via
    ``parse_constant``. Go's validator does not verify UTF-8; our inputs
    originate from Spark string columns (always valid UTF-8), so a decode
    failure simply rejects the candidate.
    """
    if isinstance(data, (bytes, bytearray)):
        if not data:
            return False
        try:
            data = bytes(data).decode("utf-8")
        except UnicodeDecodeError:
            return False
    if not data:
        return False
    try:
        json.loads(data, parse_constant=_reject_constant)
        return True
    except (ValueError, RecursionError):
        return False


def _underscore_ok(s: str) -> bool:
    """Go strconv underscore rule: '_' only between digits or after a base
    prefix. (Documented behavior of ParseUint with base 0.)"""
    saw = "^"
    i = 0
    hex_ok = False
    if len(s) >= 2 and s[0] == "0" and s[1].lower() in "box":
        if s[1].lower() == "x":
            hex_ok = True
        i = 2
        saw = "0"
    while i < len(s):
        c = s[i]
        if "0" <= c <= "9" or (hex_ok and c.lower() in "abcdef"):
            saw = "0"
        elif c == "_":
            if saw != "0":
                return False
            saw = "_"
        else:
            if saw == "_":
                return False
            saw = "!"
        i += 1
    return saw != "_"


# Exactly the digits of each base, ASCII only: ``int()`` would also
# accept signs, whitespace, underscores, a base prefix and non-ASCII
# digits.
_BASE_DIGITS = {
    2: re.compile("[01]+"),
    8: re.compile("[0-7]+"),
    10: re.compile("[0-9]+"),
    16: re.compile("[0-9a-fA-F]+"),
}


def parse_uint_base0(s: str):
    """Go ``strconv.ParseUint(s, 0, 64)``: returns int or None on any error
    (syntax or uint64 range)."""
    if not s:
        return None
    if "_" in s and not _underscore_ok(s):
        return None
    base = 10
    digits = s
    if s[0] == "0" and len(s) > 1:
        c = s[1].lower()
        if c == "b":
            base, digits = 2, s[2:]
        elif c == "o":
            base, digits = 8, s[2:]
        elif c == "x":
            base, digits = 16, s[2:]
        else:
            base, digits = 8, s[1:]
    digits = digits.replace("_", "")
    if _BASE_DIGITS[base].fullmatch(digits) is None:
        return None
    # base-10 digits never start with '0' (that selects legacy octal),
    # so more than 20 of them overflow; the check also keeps int() below
    # its decimal-digit limit
    if base == 10 and len(digits) > 20:
        return None
    val = int(digits, base)
    return val if val <= _U64_MAX else None
