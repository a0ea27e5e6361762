"""Key-filter query layer over extracted values.

Reimplements the reference ``Objects`` semantics
(/root/reference/objects.go:59-169):

* every extracted top-level value is walked depth-first (with explicit
  stacks, so any nesting depth works at any caller stack depth);
* arrays recurse into elements but never match themselves (objects.go:69);
* objects are dispatched to the FIRST unsatisfied option whose ``keys``
  are all present (objects.go:104-131), then recursion descends into the
  values in SORTED-KEY order for determinism (objects.go:133-147);
* a callback may return ``ERR_STOP`` → that option is satisfied and never
  called again; once every option is satisfied the whole scan stops
  (objects.go:111-123);
* a ``required`` option that was never satisfied raises
  ``CallbackNeverCalled`` (objects.go:55-57, 155-166).

Matched payloads are the RAW byte spans of the (already normalized) JSON
— same bytes the reference hands its callbacks via ``rawMessageNoCopy``
(objects.go:171-186). Duplicate keys collapse last-wins, like Go's
``json.Unmarshal`` into a map.
"""

from __future__ import annotations

import json as _json
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

ERR_STOP = object()


class CallbackNeverCalled(Exception):
    """Raised when a required option's callback never returned ERR_STOP."""


@dataclass
class ObjectOption:
    keys: Sequence[str] = ()
    callback: Optional[Callable[[str], object]] = None
    required: bool = False
    # Declarative alternative to a callback for the vectorized path:
    # collect matches; ERR_STOP is implied after `limit` matches.
    limit: Optional[int] = None
    matches: list = field(default_factory=list)


# ---------------------------------------------------------------------------
# Raw-span JSON walker. Inputs are scanner outputs (valid JSON), so this
# parser is trusting: it only needs value spans and object key maps.
# ---------------------------------------------------------------------------

_WS = " \t\n\r"


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i] in _WS:
        i += 1
    return i


def _scan_string(s: str, i: int) -> int:
    """i at opening quote; returns index past closing quote."""
    i += 1
    while True:
        c = s[i]
        if c == "\\":
            i += 2
        elif c == '"':
            return i + 1
        else:
            i += 1


def _scan_key(s: str, i: int):
    """i before an object member's key → (key, index past its ':')."""
    i = _skip_ws(s, i)
    kend = _scan_string(s, i)
    return _json.loads(s[i:kend]), _skip_ws(s, kend) + 1


def _scan_value(s: str, i: int):
    """Parse the value at i → (node, end). node is
    ('obj', start, end, {key: child}) | ('arr', start, end, [children]) |
    ('scalar', start, end, None).

    Iterative: open containers live on an explicit stack of
    [kind, start, payload, pending key] frames, so nesting depth is
    bounded by memory, not by the interpreter's recursion limit."""
    stack: list = []
    while True:
        i = _skip_ws(s, i)
        start = i
        c = s[i]
        if c == "{" or c == "[":
            kind, close = ("obj", "}") if c == "{" else ("arr", "]")
            i = _skip_ws(s, i + 1)
            if s[i] == close:
                i += 1
                node = (kind, start, i, {} if kind == "obj" else [])
            else:
                frame = [kind, start, {} if kind == "obj" else [], None]
                if kind == "obj":
                    frame[3], i = _scan_key(s, i)
                stack.append(frame)
                continue  # parse the first child
        elif c == '"':
            i = _scan_string(s, i)
            node = ("scalar", start, i, None)
        else:
            # number / true / false / null
            n = len(s)
            while i < n and s[i] not in ",}] \t\n\r":
                i += 1
            node = ("scalar", start, i, None)
        # ``node`` ends at i: attach it to its parent, closing every
        # container that ends right after it
        while stack:
            frame = stack[-1]
            if frame[0] == "obj":
                frame[2][frame[3]] = node  # duplicate keys: last wins
            else:
                frame[2].append(node)
            i = _skip_ws(s, i)
            if s[i] == ",":
                i += 1
                if frame[0] == "obj":
                    frame[3], i = _scan_key(s, i)
                break  # parse the next child
            stack.pop()
            i += 1  # '}' or ']'
            node = (frame[0], frame[1], i, frame[2])
        else:
            return node, i


class _Stop(Exception):
    pass


class _Abort(Exception):
    def __init__(self, err):
        self.err = err


def _walk(root, s: str, options: Sequence[ObjectOption], satisfied: set):
    """Pre-order walk with an explicit stack: array elements in order,
    object values in sorted-key order, each subtree finished before its
    next sibling — the recursive reference order at any depth."""
    stack = [root]
    while stack:
        kind, start, end, payload = stack.pop()
        if kind == "arr":
            stack.extend(reversed(payload))
        elif kind == "obj":
            for idx, opt in enumerate(options):
                if idx in satisfied:
                    continue
                if all(k in payload for k in opt.keys):
                    raw = s[start:end]
                    stop = False
                    if opt.callback is not None:
                        res = opt.callback(raw)
                        if res is ERR_STOP:
                            stop = True
                        elif res is not None:
                            raise _Abort(res)
                    else:
                        opt.matches.append(raw)
                        if (opt.limit is not None
                                and len(opt.matches) >= opt.limit):
                            stop = True
                    if stop:
                        satisfied.add(idx)
                        if len(satisfied) == len(options):
                            raise _Stop()
                    break  # first matching option only (objects.go:128-130)
            stack.extend(payload[key]
                         for key in sorted(payload, reverse=True))


def match_objects(values: Sequence[str], options: Sequence[ObjectOption]):
    """Run the Objects dispatch over already-extracted values.

    Returns the options list (with ``matches`` populated for declarative
    options). Raises CallbackNeverCalled per required-semantics.
    """
    satisfied: set = set()
    try:
        for v in values:
            if not v:
                continue
            if v[0] in "[{":
                node, _ = _scan_value(v, 0)
                _walk(node, v, options, satisfied)
    except _Stop:
        return options
    except _Abort as a:
        raise a.err if isinstance(a.err, BaseException) else RuntimeError(a.err)

    if len(satisfied) != len(options):
        for idx, opt in enumerate(options):
            if opt.required and idx not in satisfied:
                raise CallbackNeverCalled()
    return options


def extract_and_match(data: bytes, options: Sequence[ObjectOption]):
    """Reference ``Objects(r, o)`` end-to-end: scan + dispatch."""
    from jsonextract_spark.kernel.scanner import extract_objects

    values = [m.decode("utf-8", "replace") for m in extract_objects(data)]
    return match_objects(values, options)
