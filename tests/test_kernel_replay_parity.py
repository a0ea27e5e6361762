"""Replay parity: ``extract_objects`` against a naive re-lexing scan.

``extract_objects`` answers a nested candidate from the conversion of an
enclosing one (``scanner._Conversion``) instead of lexing it again. The
oracle below is the plain reference loop: it converts every candidate
from scratch with ``read_js_object``. Both must agree on the values, on
the ``limit`` cut, and on where ``work_budget`` stops the scan — the
budget counts the work the re-lexing scan does, so truncation has to land
on the same candidate.
"""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from jsonextract_spark.kernel import lexer as L
from jsonextract_spark.kernel.gojson import json_valid
from jsonextract_spark.kernel.scanner import extract_objects, read_js_object

from tests.golden_corpus import CASES, STRUCTURAL_CASES


def _naive(data: bytes, limit=None, work_budget=None):
    """Every candidate converted from scratch. Returns the values and the
    cumulative work after each attempt."""
    out, cuts = [], []
    i, n, work = 0, len(data), 0
    while i < n:
        starts = [k for k in (data.find(b"{", i), data.find(b"[", i))
                  if k >= 0]
        if not starts:
            break
        i = min(starts)
        msg, nread, attempted = read_js_object(data, i)
        work += attempted
        cuts.append(work)
        if msg is not None and json_valid(msg):
            out.append(msg)
            if limit is not None and len(out) >= limit:
                break
            i += nread if nread > 0 else 1
        else:
            i += 1
        if work_budget is not None and work > work_budget:
            break
    return out, cuts


def _assert_parity(data: bytes, max_cuts: int = 40):
    want, cuts = _naive(data)
    assert extract_objects(data) == want
    for k in (1, 2, 3):
        assert extract_objects(data, limit=k) == want[:k]
    # the output can only change where the budget crosses a cumulative
    # work value, so probing on both sides of one pins that cut point
    for c in cuts[::len(cuts) // max_cuts + 1]:
        for b in (c - 1, c):
            assert (extract_objects(data, work_budget=b)
                    == _naive(data, work_budget=b)[0]), (data, b)


@pytest.mark.parametrize("arg", [a for a, _ in CASES + STRUCTURAL_CASES])
def test_golden_inputs_match_naive_scan(arg):
    _assert_parity(arg.encode("utf-8"))


@pytest.mark.parametrize("arg", [a for a, _ in CASES + STRUCTURAL_CASES])
def test_golden_inputs_small_budgets(arg):
    data = arg.encode("utf-8")
    for b in range(0, 200, 7):
        for k in (None, 1, 2, 3):
            assert (extract_objects(data, limit=k, work_budget=b)
                    == _naive(data, limit=k, work_budget=b)[0])


# tokens that exercise every replay-sensitive rule: both bracket kinds,
# '{' after '{', trailing commas, sign deletion (+5, -NaN), '3+3',
# number after number, '.5' (converts but fails json_valid), regex and
# template literals, comments, brackets hidden in strings, and lexer
# errors
_SOUP_TOKENS = [
    "{", "{", "[", "[", "}", "}", "]", "]", ",", ",", ":", " ", "\n",
    "a", "k:", "1", "22", ".5", "+", "-", "NaN", "true", "0x1f", "7n",
    "/re[/]x/g", "/", "`t`", "`${x}`", "'s'", "'[{'", '"d"', '"}]"',
    "/* c */", "// c\n", "@", "'open", "é",
]


@settings(max_examples=300, deadline=None)
@given(parts=st.lists(st.sampled_from(_SOUP_TOKENS), max_size=60))
def test_bracket_soup_matches_naive_scan(parts):
    _assert_parity("".join(parts).encode("utf-8"))


# nested JS values, some valid and some poisoned ('.5', '@', '3+3',
# '{{', an unterminated string), so that valid candidates sit inside
# failed ones at every depth and get replayed
_JS_LEAF = st.sampled_from([
    "1", "-2", "+3", "NaN", "-NaN", "0x1f", "7n", "1.", "true",
    "undefined", "'s'", '"d"', "`t`", "/re[/]/g", "'[{'", '"}]"',
    ".5", "@", "3+3", "{{}}", "'open",
])


def _js_array(items, trailing):
    return "[" + ", ".join(items) + ("," if trailing else "") + "]"


def _js_object(pairs, trailing):
    body = ", ".join(f"{k}: {v}" for k, v in pairs)
    return "{" + body + ("," if trailing else "") + "}"


_JS_TREE = st.recursive(
    _JS_LEAF,
    lambda kids: (
        st.builds(_js_array, st.lists(kids, max_size=4), st.booleans())
        | st.builds(_js_object,
                    st.lists(st.tuples(st.sampled_from(["a", "'b'", '"c"']),
                                       kids), max_size=3),
                    st.booleans())),
    max_leaves=16)


@settings(max_examples=300, deadline=None)
@given(parts=st.lists(_JS_TREE | st.sampled_from(_SOUP_TOKENS),
                      min_size=1, max_size=6),
       cut=st.integers(0, 400))
def test_nested_js_values_match_naive_scan(parts, cut):
    data = " ".join(parts).encode("utf-8")
    _assert_parity(data)
    _assert_parity(data[:cut])      # truncated: candidates run into EOF


def _truncated_page(rng: random.Random, size: int) -> bytes:
    head = b"<html><body><script>var state = "
    unit = b"[{id: %d, v: [" % rng.randrange(1000)
    body = unit * (size // len(unit) + 1)
    return (head + body)[:size]


@pytest.mark.parametrize("seed", range(4))
def test_truncated_pages_match_naive_scan(seed):
    rng = random.Random(seed)
    page = _truncated_page(rng, rng.randrange(600, 1500))
    # before the cut, an object whose readInputBytes undercounts its
    # regex literal, so the scan resumes inside it and finds '[1]' again
    page = b"{re: /abcdefgh/, x: [1]} " + page
    _assert_parity(page)


def test_unclosed_brackets_lex_each_token_about_once(monkeypatch):
    """A 50 KB page of unclosed brackets, scanned with no budget: the
    tokens lexed stay within a small multiple of the page's own token
    count. The re-lexing scan lexes every token once per enclosing
    bracket, thousands of times here."""
    page = _truncated_page(random.Random(7), 50 << 10)
    first = page.index(b"[")
    lx, page_tokens = L.Lexer(page, first), 0
    while lx.next()[0] not in (L.EOF, L.ERROR):
        page_tokens += 1

    calls = 0
    real_next = L.Lexer.next

    def counting_next(self):
        nonlocal calls
        calls += 1
        return real_next(self)

    monkeypatch.setattr(L.Lexer, "next", counting_next)
    assert extract_objects(page) == []
    assert calls <= 2 * page_tokens + 10
