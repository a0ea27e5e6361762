"""Scan loop + JS→JSON candidate conversion (the extraction kernel).

Reimplements the observable semantics of the reference's ``Reader`` /
``readJSObject`` (/root/reference/reader.go:48-123, 271-471) over an
in-memory byte string instead of an ``io.Reader`` + backtracking buffer:

* forward scan for ``{`` / ``[``; attempt a candidate at each;
* on failure (lex error or invalid JSON) resume exactly one rune past the
  opening bracket (reader.go:83-92);
* on success resume ``readInputBytes`` bytes past the opening bracket
  (reader.go:94-99). ``readInputBytes`` is the sum of *token text* lengths
  — crucially, a regex literal only contributes the length of its leading
  ``/`` or ``/=`` token because upstream re-lexes the body after the byte
  count was already taken (reader.go:307-311 vs 339-355). This undercount
  is observable (the tail of an object containing a long regex gets
  re-scanned) and is reproduced bit-for-bit.

Candidate conversion mirrors the upstream token dispatch exactly,
including the quirk that ``lastByte`` tracks the last byte of the token
*variable* (reassigned on marshal paths, untouched on the map /
single-quote paths — reader.go:463).
"""

from __future__ import annotations

from jsonextract_spark.kernel import lexer as L
from jsonextract_spark.kernel.lexer import (
    DIV, EOF, ERROR, IDENT, IGNORE, NUMBER, PUNCT, REGEX, STRING, TEMPLATE,
)
from jsonextract_spark.kernel.gojson import (
    json_valid,
    marshal_string_bytes,
    parse_uint_base0,
)

# Identifier keywords with fixed JSON spellings (reader.go:244-253).
_IDENT_MAP = {
    b"true": b"true",
    b"false": b"false",
    b"null": b"null",
    b"undefined": b"null",
    b"NaN": b"null",
}

_OPEN_OBJECT = 0x7B  # {
_OPEN_ARRAY = 0x5B   # [

_PLUS = 0x2B
_MINUS = 0x2D
_COMMA = 0x2C
_QUOTE_S = 0x27
_QUOTE_D = 0x22


def transform_number(number: bytes) -> bytes:
    """Port of ``transformNumber`` (reader.go:479-507): decimalize hex/oct/
    bin/legacy-octal/underscore literals via uint64 parsing; fix trailing
    dots; pass anything else through unchanged."""
    out = b""
    if number[:1] == b"+":
        number = number[1:]
    elif number[:1] == b"-":
        number = number[1:]
        out = b"-"
    # fast path: a plain decimal uint64 without leading zero is its own
    # decimalization (leading zeros mean legacy octal in base-0 parsing)
    if (number.isdigit() and not number.startswith(b"0")
            and len(number) <= 19):
        return out + number
    v = parse_uint_base0(number.decode("latin-1"))
    if v is None:
        if number[-1:] == b"." and number.find(b".") == len(number) - 1:
            return out + number + b"0"
        return out + number
    return out + str(v).encode()


def single_quote_replace(tok: bytes) -> bytes:
    """Single-pass ``'``→``"``, ``"``→``\\"``, ``\\'``→``'`` over the whole
    token incl. quotes (reader.go:255-263, 404-409)."""
    # fast path: with no '"' and no "\\'" in the token, the only rule
    # that can fire is '->" — one C-speed replace (the common case for
    # web-page single-quoted strings)
    if tok.find(_QUOTE_D) < 0 and tok.find(b"\\'") < 0:
        return tok.replace(b"'", b'"')
    out = bytearray()
    i, n = 0, len(tok)
    while i < n:
        c = tok[i]
        if c == 0x5C and i + 1 < n and tok[i + 1] == _QUOTE_S:
            out.append(_QUOTE_S)
            i += 2
        elif c == _QUOTE_S:
            out.append(_QUOTE_D)
            i += 1
        elif c == _QUOTE_D:
            out += b'\\"'
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _template_unescape(inner: bytes) -> bytes:
    r"""Template content transform: backslash-backtick becomes backtick
    (reader.go:265-269)."""
    return inner.replace(b"\\`", b"`")


class _Conversion:
    """One forward token-by-token conversion, shared by every candidate
    that opens on one of its brackets.

    It starts like ``readJSObject`` at an opening bracket but does not
    stop when that candidate closes: a later candidate that opens on a
    bracket this conversion already appended is answered from what was
    recorded, and the conversion is continued only if that candidate
    runs past it. Replay is exact because:

    * the lexer's tokens depend only on ``(data, pos)``, so tokens from
      a recorded token boundary are the ones a fresh lex would produce;
    * a token's emitted bytes, its error checks and its one-byte
      deletion depend only on the previous non-IGNORE token, which for
      every token after a candidate's opener lies inside the candidate;
    * a candidate's first token is a lone ``{``/``[``, which never
      errors or deletes when it opens a candidate — so it is reused only
      where it was appended without error;
    * a deletion only removes the previous ``+``/``-``/``,`` byte, never
      an opener or a closer, so buffer bytes up to a closer are final.

    A candidate's closer is the closer of its own kind that balances it
    (``readJSObject`` counts only its own bracket kind), found with one
    stack per kind. Records are keyed by the opener's data offset: each
    opener records its buffer offset and the ``readInputBytes`` before
    it, each matched opener the buffer end, ``readInputBytes`` and
    lexer position after its closer.
    """

    __slots__ = ("lx", "buf", "read", "last_byte", "last_was_numeric",
                 "opens", "ends", "objs", "arrs", "stop", "eof")

    def __init__(self, data: bytes, start: int):
        c = data[start]
        if c != _OPEN_OBJECT and c != _OPEN_ARRAY:
            raise ValueError(f"no opening bracket at offset {start}")
        # unmatched openers of each kind
        self.objs = [start] if c == _OPEN_OBJECT else []
        self.arrs = [start] if c == _OPEN_ARRAY else []
        self.lx = L.Lexer(data, start + 1)
        self.buf = bytearray((c,))
        self.read = 1
        self.last_byte = c
        self.last_was_numeric = False
        # appended opener -> (buffer offset, readInputBytes) before it
        self.opens = {start: (0, 0)}
        # matched opener -> (buffer end, readInputBytes, lexer pos) after
        # its closer
        self.ends: dict[int, tuple[int, int, int]] = {}
        self.stop = -1           # lexer pos at error/EOF; -1 while live
        self.eof = False

    def candidate(self, start: int):
        """``(buf, read_input_bytes, attempted_bytes)`` for the candidate
        opening on the recorded opener at ``data[start]``, as
        ``read_js_object`` returns them — except that a candidate cut off
        by EOF gets ``buf=None`` like a hard error.

        Such a candidate is never valid JSON: its own opener is still
        unclosed. The string pieces of a buffer are complete JSON
        strings wherever the buffer is valid, so its structural brackets
        are exactly its bracket tokens, and those do not balance. Not
        building it keeps unclosed brackets linear.
        """
        if self.stop < 0 and start not in self.ends:
            self._advance(start)
        end = self.ends.get(start)
        if end is None:
            return None, 0, self.stop - start
        off, read0 = self.opens[start]
        buf_end, read, pos = end
        return bytes(self.buf[off:buf_end]), read - read0, pos - start

    def _advance(self, start: int) -> None:
        """Convert tokens until the opener at ``start`` is closed or the
        input ends in an error or EOF (upstream's token dispatch,
        reader.go:300-466)."""
        lx = self.lx
        nxt = lx.next
        buf = self.buf
        read = self.read
        last_byte = self.last_byte
        last_was_numeric = self.last_was_numeric
        opens, ends, objs, arrs = self.opens, self.ends, self.objs, self.arrs

        while True:
            kind, text = nxt()
            if kind == ERROR:
                break
            if kind == EOF:
                self.eof = True
                break

            read += len(text)

            if kind == IGNORE:
                continue  # not seen as last token/byte (reader.go:314-317)

            if kind == PUNCT:
                if len(text) > 1:
                    break  # reader.go:357-360
                c = text[0]
                if c == _OPEN_OBJECT or c == _OPEN_ARRAY:
                    if last_byte == _OPEN_OBJECT and c == _OPEN_OBJECT:
                        break  # '{' after '{' (reader.go:368-371)
                    at = lx.pos - 1
                    opens[at] = (len(buf), read - 1)
                    (objs if c == _OPEN_OBJECT else arrs).append(at)
                    buf.append(c)
                elif c == 0x7D or c == 0x5D:
                    if last_byte == _COMMA:
                        del buf[-1:]  # trailing comma (reader.go:379-384)
                    buf.append(c)
                    st = objs if c == 0x7D else arrs
                    if st:
                        at = st.pop()
                        ends[at] = (len(buf), read, lx.pos)
                        if at == start:
                            self.read = read
                            self.last_byte = c
                            self.last_was_numeric = False
                            return
                elif c == _PLUS:
                    if 0x30 <= last_byte <= 0x39:
                        break  # '3+3' (reader.go:392-396)
                    buf.append(c)
                else:
                    buf += text

            elif kind == IDENT:
                mapped = _IDENT_MAP.get(text)
                if mapped is not None:
                    # -NaN / +NaN → drop the sign byte already written
                    # (reader.go:322-327)
                    if last_byte == _PLUS or last_byte == _MINUS:
                        del buf[-1:]
                    buf += mapped
                    # NOTE: text stays the raw identifier (lastByte = e.g. 'N')
                else:
                    text = marshal_string_bytes(text)  # unquoted key → string
                    buf += text

            elif kind == DIV:
                rkind, rtext = lx.regexp(text)
                if rkind != REGEX:
                    break
                # readInputBytes got only len('/' or '/=') — upstream quirk.
                text = marshal_string_bytes(rtext)
                buf += text

            elif kind == STRING:
                if text[0] == _QUOTE_S:
                    buf += single_quote_replace(text)
                    # text NOT reassigned: lastByte stays the closing quote "'"
                elif text[0] == _QUOTE_D:
                    buf += text
                else:
                    break

            elif kind == TEMPLATE:
                if len(text) <= 2:
                    break  # reader.go:421-423
                text = marshal_string_bytes(_template_unescape(text[1:-1]))
                buf += text

            elif kind == NUMBER:
                if last_was_numeric:
                    break  # number after number (reader.go:435-438)
                if last_byte == _PLUS:
                    del buf[-1:]  # '+5' → '5' (reader.go:443-446)
                if text[-1:] == b"n" and text[:-1].isdigit():
                    text = text[:-1]  # decimal BigInt (reader.go:448-452)
                text = transform_number(text)
                buf += text

            else:  # pragma: no cover — no other kinds are produced
                buf += text

            last_byte = text[-1] if text else -1
            last_was_numeric = kind == NUMBER

        # error or EOF: the conversion is over for every open candidate
        self.read = read
        self.stop = lx.pos


def read_js_object(data: bytes, start: int):
    """Convert one candidate starting at ``data[start]`` (a ``{`` or ``[``).

    Returns ``(buf_bytes_or_None, read_input_bytes, attempted_bytes)``;
    ``None`` means a hard lex/convert error (upstream's non-EOF error
    return, reader.go:470). ``attempted_bytes`` is how far the lexer got —
    used only for the engine-level work budget, not for resume offsets.
    The caller must still validate ``buf`` as JSON (reader.go:83).
    """
    conv = _Conversion(data, start)
    msg, nread, attempted = conv.candidate(start)
    if conv.eof and msg is None:
        # io.EOF is a soft stop: return what we have (reader.go:467-469)
        return bytes(conv.buf), conv.read, attempted
    return msg, nread, attempted


# Conversions kept for replay at once. When full, those the scan has
# passed are dropped, then the oldest. More only costs memory, fewer
# only re-lexes.
_LIVE_CONVERSIONS = 4


def extract_objects(data: bytes, limit: int | None = None,
                    work_budget: int | None = None) -> list[bytes]:
    """Port of ``Reader`` (reader.go:48-123): every JSON/JS object or array
    in ``data``, normalized to strict JSON bytes, in document order.

    ``limit`` emulates a callback returning ``ErrStop`` after N values.

    Like the reference, a failed candidate resumes one rune past its
    opening bracket, so every bracket nested in it is tried again as a
    candidate of its own. The reference re-lexes each of those from
    scratch, once per enclosing level: O(n²) on repeated unclosed
    brackets (reference README.md:95). Here a nested candidate that
    opens on a bracket an enclosing candidate already converted replays
    that conversion (``_Conversion``) instead, so each byte is lexed
    about once and the real work is about linear in the page's tokens.
    Outputs are byte-identical to the re-lexing scan.

    ``work_budget`` is an engine-level safety valve with no reference
    counterpart. It counts reference-equivalent work: the bytes every
    candidate attempt would have tokenized had it been lexed from
    scratch, replayed or not. When it is exhausted the rest of the
    document is skipped, at the same point the re-lexing scan would
    stop. ``None`` (the default) is exact reference behavior; the Spark
    UDF layer passes a budget so one adversarial page cannot stall an
    executor core.
    """
    out: list[bytes] = []
    i, n = 0, len(data)
    work = 0
    find = data.find
    live: list[_Conversion] = []
    while i < n:
        # Jump to the next opening bracket at C speed. Equivalent to the
        # reference's rune-by-rune scan because '{'/'[' are ASCII and can
        # never occur inside a multi-byte UTF-8 sequence.
        io = find(b"{", i)
        ia = find(b"[", i)
        if io < 0:
            if ia < 0:
                break
            i = ia
        elif ia < 0:
            i = io
        else:
            i = io if io < ia else ia

        for conv in live:
            if i in conv.opens:
                break
        else:
            if len(live) == _LIVE_CONVERSIONS:
                live = [c for c in live if c.lx.pos > i]
                del live[:len(live) + 1 - _LIVE_CONVERSIONS]
            conv = _Conversion(data, i)
            live.append(conv)

        msg, nread, attempted = conv.candidate(i)
        work += attempted
        if msg is not None and json_valid(msg):
            out.append(msg)
            if limit is not None and len(out) >= limit:
                return out
            i += nread if nread > 0 else 1
        else:
            i += 1  # skip exactly the opening bracket (one rune)
        if work_budget is not None and work > work_budget:
            break
    return out


def extract_objects_str(text: str, limit: int | None = None,
                        work_budget: int | None = None) -> list[str]:
    """String-in/string-out wrapper used by the Arrow UDFs."""
    return [
        m.decode("utf-8", "replace")
        for m in extract_objects(text.encode("utf-8"), limit, work_budget)
    ]


# Default work budget of a page of n characters (or bytes): 64x its
# length, floor 1 MiB. The budget counts reference-equivalent work, so
# only pages that make the reference scan quadratic (repeated unclosed
# brackets) come near it; the real work is about linear in the page's
# tokens either way.
WORK_BUDGET_FACTOR = 64
WORK_BUDGET_FLOOR = 1 << 20


def page_work_budget(n: int) -> int:
    return max(n * WORK_BUDGET_FACTOR, WORK_BUDGET_FLOOR)


def extract_budgeted(page):
    """Every value in one page under the default work budget — how the
    Spark-side callers run the kernel. ``str`` pages give ``str``
    values, ``bytes`` pages ``bytes`` values; the budget scales with
    ``len(page)`` in the page's own units."""
    if isinstance(page, str):
        return extract_objects_str(
            page, work_budget=page_work_budget(len(page)))
    return extract_objects(page, work_budget=page_work_budget(len(page)))
