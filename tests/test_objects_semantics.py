"""Objects() dispatch semantics, ported from /root/reference/objects_test.go."""

import json

import pytest

from jsonextract_spark.kernel.objects import (
    ERR_STOP,
    CallbackNeverCalled,
    ObjectOption,
    extract_and_match,
    match_objects,
)


def test_required_never_satisfied():
    # objects_test.go:13-33 — callback called but never returns ErrStop
    data = b'{"a": 3}{"a": "b"}'
    calls = []

    def cb(raw):
        calls.append(raw)
        return None  # never satisfied

    with pytest.raises(CallbackNeverCalled):
        extract_and_match(data, [ObjectOption(keys=["a"], callback=cb,
                                              required=True)])
    assert len(calls) == 2


def test_objects_satisfied():
    # objects_test.go:35-77
    data = b'{}{}{}{}{"a":"b"}{b:3}{}{}'
    aval = {}
    bval = {}

    def unmarshal_until(target, verify):
        def cb(raw):
            try:
                target.update(json.loads(raw))
            except ValueError:
                return None
            return ERR_STOP if verify() else None
        return cb

    match_objects_input = [
        ObjectOption(keys=["a"], required=True,
                     callback=unmarshal_until(aval, lambda: aval.get("a"))),
        ObjectOption(keys=["b"], required=True,
                     callback=unmarshal_until(bval, lambda: bval.get("b", 0) > 0)),
    ]
    extract_and_match(data, match_objects_input)
    assert aval["a"] == "b"
    assert bval["b"] == 3


def test_objects_unsatisfied_required():
    # objects_test.go:79-104
    with pytest.raises(CallbackNeverCalled):
        extract_and_match(b"{}", [
            ObjectOption(keys=["a"], required=True, limit=1),
            ObjectOption(keys=["b"], required=True, limit=1),
        ])


def test_first_matching_option_only():
    # objects_test.go:107-137 — first listed option wins
    data = b'{key1: "a", a: {key1: "b", key2: 2}}'
    o0 = ObjectOption(keys=["key1"])
    o1 = ObjectOption(keys=["key1", "key2"])
    extract_and_match(data, [o0, o1])
    assert len(o0.matches) == 2
    assert len(o1.matches) == 0


def test_cascade():
    # objects_test.go:139-168 — most-specific first
    data = b'{key1: "a", a: {key1: "b", key2: 2}}'
    o1 = ObjectOption(keys=["key1", "key2"])
    o0 = ObjectOption(keys=["key1"])
    extract_and_match(data, [o1, o0])
    assert len(o0.matches) == 1
    assert len(o1.matches) == 1


@pytest.mark.parametrize("doc,expected", [
    # objects_test.go:170-194
    ('{ key1: "asdf", key2: "ghijk"}',
     {'{"key1":"asdf","key2":"ghijk"}': 0}),
    ('{ "unrelated": { key1: "asdf", key2: "ghijk"}}',
     {'{"key1":"asdf","key2":"ghijk"}': 0}),
    ('{ "unrelated": [{ key1: "asdf", key2: "ghijk"}, '
     '{ key1: "asdf", key3: "ghijk"}]}',
     {'{"key1":"asdf","key2":"ghijk"}': 0,
      '{"key1":"asdf","key3":"ghijk"}': 1}),
])
def test_objects_dispatch(doc, expected):
    o0 = ObjectOption(keys=["key1", "key2"])
    o1 = ObjectOption(keys=["key3"])
    extract_and_match(doc.encode(), [o0, o1])
    got = {m: 0 for m in o0.matches}
    got.update({m: 1 for m in o1.matches})
    assert got == expected


def test_multi_child_recursion_counts():
    # objects_test.go:239-289 — key1 found 5x, key2 2x (sorted-key
    # recursion + last-wins duplicate keys)
    data = b"""{
            key1: {
                key1: {
                    key1: {
                        key2: {
                            key1: "test"
                        },
                        key1: [
                            "aaa"
                        ]
                    },
                    key3: {
                        key2: 15,
                        key3: {
                            key2: 7
                        }
                    }
                },
                key2: "test"
            }
        }"""
    o1 = ObjectOption(keys=["key1"])
    o2 = ObjectOption(keys=["key2"])
    extract_and_match(data, [o1, o2])
    assert len(o1.matches) == 5
    assert len(o2.matches) == 2


def test_required_callback_options_kitchen_sink():
    # objects_test.go:291-373
    data = (b"{a:\"b\", c: 4, e: [{f:3}, {g:3}], "
            b"h:{i:{j:{k:\"l\", \"m\": 3n}, o: 5.6}}, p:['q', \"r\"], }")

    with pytest.raises(CallbackNeverCalled):
        extract_and_match(data, [ObjectOption(
            keys=["this-key-doesn't-exist"], required=True, limit=1)])

    km = ObjectOption(keys=["k"])
    extract_and_match(data, [km])
    got = json.loads(km.matches[0])
    assert got["k"] == "l" and got["m"] == 3

    missing = ObjectOption(keys=["y"])
    extract_and_match(data, [missing])
    assert missing.matches == []


def test_all_satisfied_stops_scan():
    # objects.go:117-120 — once every option is satisfied the scan stops,
    # so later matches are never seen.
    data = b'{x: 1}{x: 2}{x: 3}'
    o = ObjectOption(keys=["x"], limit=1)
    extract_and_match(data, [o])
    assert o.matches == ['{"x":1}']


def test_arrays_never_match():
    # objects.go:69 — arrays recurse but don't match options themselves
    data = b'[{"k": 1}, 2, [{"k": 3}]]'
    o = ObjectOption(keys=["k"])
    extract_and_match(data, [o])
    assert o.matches == ['{"k":1}', '{"k":3}']


def _deep_value(depth):
    """``depth`` nested containers, alternating ``{"x":`` and ``[``,
    around a ``{"k":1}`` leaf; every object also carries a sibling
    ``"a"`` key that sorts before ``"x"``."""
    opens, closes = [], []
    for level in range(depth):
        if level % 2 == 0:
            opens.append('{"x":')
            closes.append(',"a":[{"k":%d}]}' % level)
        else:
            opens.append("[")
            closes.append("]")
    return "".join(opens) + '{"k":-1}' + "".join(reversed(closes))


def _under_frames(n, fn):
    return fn() if n == 0 else _under_frames(n - 1, fn)


@pytest.mark.parametrize("depth", [500, 960, 5000])
def test_deep_values_match_at_any_stack_depth(depth):
    """The walker needs no Python stack per nesting level: a value
    ``depth`` containers deep gives the same matches whether it is
    matched at the top of the stack or under 200 extra frames, in the
    reference visit order (first unsatisfied option, then values in
    sorted-key order, each subtree before the next sibling)."""
    value = _deep_value(depth)

    def run():
        opts = [ObjectOption(keys=["x"], limit=2), ObjectOption(keys=["k"])]
        match_objects([value], opts)
        return [list(o.matches) for o in opts]

    outer, inner = [_under_frames(n, run) for n in (0, 200)]
    assert outer == inner
    xs, ks = outer
    # pre-order: the two outermost objects, each as its full raw span
    tail = len(']' + ',"a":[{"k":0}]}')
    assert xs == [value, value[len('{"x":['):-tail]]
    # each object's "a" value sorts before its "x" subtree, so the
    # leaves come outermost first and the innermost leaf last
    assert ks == (['{"k":%d}' % level for level in range(0, depth, 2)]
                  + ['{"k":-1}'])
