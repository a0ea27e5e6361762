"""The vectorized extraction path through a real Spark plan.

Proves the Arrow UDF produces the identical byte sequences as the pure
kernel, end-to-end through Scan → Project → ArrowEvalPython → Generate.
"""

import pytest
from pyspark.sql import functions as F

from tests.golden_corpus import CASES

pytestmark = pytest.mark.spark


def test_extract_udf_matches_kernel_on_corpus(spark):
    from jsonextract_spark.functions.udfs import extract_objects_udf

    rows = [(i, arg) for i, (arg, _want) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "case_id INT, text STRING")
    got = {
        r["case_id"]: r["objs"]
        for r in df.select("case_id",
                           extract_objects_udf("text").alias("objs")).collect()
    }
    for i, (arg, want) in enumerate(CASES):
        assert got[i] == want, f"case {i}"


def test_posexplode_recovers_callback_order(spark):
    from jsonextract_spark.functions.udfs import extract_objects_udf

    df = spark.createDataFrame([("u1", "{}some {}text[] in {}between{}")],
                               "url STRING, text STRING")
    out = (df.select("url", extract_objects_udf("text").alias("objs"))
             .select("url", F.posexplode("objs").alias("pos", "obj"))
             .orderBy("pos").collect())
    assert [r["obj"] for r in out] == ["{}", "{}", "[]", "{}", "{}"]
    assert [r["pos"] for r in out] == [0, 1, 2, 3, 4]


def test_binary_column_path(spark):
    from jsonextract_spark.functions.udfs import extract_objects_bin_udf

    df = spark.createDataFrame(
        [("u1", bytearray("{key: 7., arr:[5.0, 5.,]}".encode()))],
        "url STRING, html BINARY")
    out = df.select(extract_objects_bin_udf("html").alias("objs")).collect()
    assert out[0]["objs"] == ['{"key":7.0,"arr":[5.0,5.0]}']


def test_match_objects_udf(spark):
    from jsonextract_spark.functions.udfs import (
        extract_objects_udf,
        make_match_objects_udf,
    )

    match = make_match_objects_udf([
        {"keys": ["key1", "key2"]},
        {"keys": ["key1"]},
    ])
    df = spark.createDataFrame(
        [("u1", '{key1: "a", a: {key1: "b", key2: 2}}')],
        "url STRING, text STRING")
    out = (df.select(match(extract_objects_udf("text")).alias("calls"))
             .select(F.explode("calls").alias("c"))
             .select("c.opt", "c.obj").collect())
    got = [(r["opt"], r["obj"]) for r in out]
    assert got == [(1, '{"key1":"a","a":{"key1":"b","key2":2}}'),
                   (0, '{"key1":"b","key2":2}')]


def test_url_functions(spark):
    from jsonextract_spark.functions.udfs import url_identity_udf
    from jsonextract_spark.functions.urlhash import murmur3_64_py

    df = spark.createDataFrame(
        [("HTTP://Example.COM:80/a/../b/?q=1#f",),
         ("https://h2.io/x",), (None,), ("not a url",)],
        "url STRING")
    rows = (df.select(url_identity_udf("url").alias("id"))
            .select("id.*").collect())
    assert rows[0]["url"] == "http://example.com/b/?q=1"
    assert rows[0]["host"] == "example.com"
    assert rows[0]["url_hash"] == murmur3_64_py("http://example.com/b/?q=1")
    assert rows[2]["url"] is None and rows[3]["url"] is None


def test_extract_over_driver_documents(spark, sf_dir):
    # Wrap driver-generated documents in a JS blob; extraction must
    # recover the fields exactly for every row at sf0.001.
    from jsonextract_spark.functions.udfs import extract_objects_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id", "lang",
        F.concat(F.lit("<script>var cfg = {id: "), F.col("doc_id"),
                 F.lit(", lang: '"), F.col("lang"),
                 F.lit("'};</script>"), F.col("text")).alias("text"))
    out = (pages
           .select("doc_id", "lang",
                   extract_objects_udf("text").alias("objs"))
           .select("doc_id", "lang", F.element_at("objs", 1).alias("obj"))
           .select("doc_id", "lang",
                   F.get_json_object("obj", "$.id").alias("id2"),
                   F.get_json_object("obj", "$.lang").alias("lang2")))
    bad = out.filter((F.col("doc_id").cast("string") != F.col("id2")) |
                     (F.col("lang") != F.col("lang2"))).count()
    assert bad == 0
    assert out.count() == docs.count()


_MURMUR_SAMPLES = ["", "a", "ab", "hello world",
                   "http://example.com/a?q=1", "ü" * 10, "x" * 100,
                   "0123456789abcdef" * 3 + "tail"]


def test_murmur3_mmh3_bitcompat():
    """When the C mmh3 wheel is present, it must be bit-identical to the
    pure-Python MurmurHash3_x64_128."""
    mmh3 = pytest.importorskip("mmh3")
    from jsonextract_spark.functions import urlhash

    for s in _MURMUR_SAMPLES:
        assert urlhash.murmur3_64_py(s) == \
            mmh3.hash64(s.encode("utf-8"), 0, True)[0]


def test_murmur3_batch_parity():
    """The numpy batch path (the LIVE path under url_identity_udf and
    fingerprint_udf) is bit-identical to the scalar implementation on
    reference vectors plus random strings covering every tail length
    (0..15 mod 16) and multi-block inputs. Always runs — this is the
    in-sandbox replacement for the mmh3 cross-check."""
    import random
    import string

    from jsonextract_spark.functions import urlhash

    assert urlhash.murmur3_x64_128(b"") == (0, 0)  # seed-0 empty input
    rng = random.Random(20260816)
    strs = list(_MURMUR_SAMPLES)
    for length in list(range(0, 36)) + [100, 255, 1000, 4097]:
        strs.append("".join(rng.choice(string.printable)
                            for _ in range(length)))
    strs.append("日本語テキスト" * 41)
    for seed in (0, 1, 0x9747B28C):
        batch = urlhash.murmur3_64_batch(strs, seed)
        assert [int(v) for v in batch] == \
            [urlhash.murmur3_64_py(s, seed) for s in strs]
        h1s, h2s = urlhash.murmur3_x64_128_batch(
            [s.encode("utf-8") for s in strs], seed)
        for i, s in enumerate(strs):
            assert (int(h1s[i]), int(h2s[i])) == \
                urlhash.murmur3_x64_128(s.encode("utf-8"), seed)


def test_murmur3_batch_length_skew():
    """Adversarial mixed-length batch (one huge outlier among thousands
    of short rows — the web-document shape): the batch path must (a)
    stay bit-identical to the scalar path and (b) never allocate a
    padded matrix wider than the budget allows — without chunking, a
    4 MB outlier in a 10k-row batch pads ALL rows to 4 MB (~40 GB)."""
    import random

    from jsonextract_spark.functions import urlhash

    rng = random.Random(42)
    datas = [bytes(rng.randrange(256) for _ in range(rng.randrange(80)))
             for _ in range(400)]
    for i in range(100):                       # mid-size band
        datas.insert(rng.randrange(len(datas)),
                     bytes([i % 256]) * (25_000 + i))
    datas.insert(137, b"B" * 300_000)          # outliers -> scalar path
    datas.insert(301, b"C" * 90_000)
    lens = [len(d) for d in datas]

    calls: list[tuple[int, int]] = []
    real_core = urlhash._murmur3_batch_core

    def spy(ds, ls, seed):
        calls.append((len(ds), urlhash._width_of(int(ls.max()))))
        return real_core(ds, ls, seed)

    budget = 1 << 20          # 1 MiB: forces chunking on this small set
    cutoff = budget // urlhash._MIN_VEC_ROWS
    old_budget = urlhash._BATCH_BUDGET_BYTES
    urlhash._murmur3_batch_core = spy
    urlhash._BATCH_BUDGET_BYTES = budget
    try:
        h1, h2 = urlhash.murmur3_x64_128_batch(datas, 7)
    finally:
        urlhash._murmur3_batch_core = real_core
        urlhash._BATCH_BUDGET_BYTES = old_budget

    assert len(calls) >= 2, "skewed batch should have been chunked"
    for rows, width in calls:
        assert rows * width <= budget, \
            f"chunk matrix {rows}x{width} exceeds budget"
        # outlier rows must never reach the vector core
        assert width <= urlhash._width_of(cutoff)
    for i, d in enumerate(datas):
        assert (int(h1[i]), int(h2[i])) == urlhash.murmur3_x64_128(d, 7), \
            f"row {i} (len {lens[i]}) mismatch"

    # uniform short batch (the URL shape) must remain ONE pass
    calls.clear()
    urls = [f"https://host{i}.example/p/{i}".encode() for i in range(5000)]
    urlhash._murmur3_batch_core = spy
    try:
        h1u, _ = urlhash.murmur3_x64_128_batch(urls, 0)
    finally:
        urlhash._murmur3_batch_core = real_core
    assert len(calls) == 1
    assert int(h1u[17]) == urlhash.murmur3_x64_128(urls[17], 0)[0]


def test_murmur3_batch_null_handling():
    """The pandas helper under url_identity_udf preserves nulls and hashes
    the rest identically to the scalar function."""
    import pandas as pd

    from jsonextract_spark.functions import urlhash
    from jsonextract_spark.functions.udfs import _murmur3_series

    s = pd.Series(["a", None, "hello world", None, ""])
    out = _murmur3_series(s)
    assert out[1] is None and out[3] is None
    for i in (0, 2, 4):
        assert int(out[i]) == urlhash.murmur3_64_py(s[i])
    dense = pd.Series(["x", "y"])
    assert [int(v) for v in _murmur3_series(dense)] == \
        [urlhash.murmur3_64_py("x"), urlhash.murmur3_64_py("y")]


_URL_EDGE_CASES = [
    "https://host3.example/p/123", "http://a.example/",
    "https://sub.a-b.example/x/y/z", "https://a.example/x?q=1&b=c%20d",
    "HTTP://Host.example/p/1", "https://host.example",
    "https://host.example:443/x", "https://host.example:8080/x",
    "http://a.example/a/../b", "http://a.example/a/./b",
    "http://a.example//a", "http://a.example/a//b",
    "http://a.example/%7euser", "http://a.example/x#frag",
    "http://a.example/x?", "http://a.example.", "http://u:p@a.example/x",
    "ftp://x/y", "not a url", "", " https://a.example/x ",
    "https://пример.рф/x", "http://a.example/.hidden",
    "http://127.0.0.1:8080/p/1", "http://a.example/x%2Fy",
    "https://a.example/p/1?x", "https://a.example/~u/'q'!", None,
]


def test_url_fast_path_agrees_with_slow_path():
    """The vectorized fast path inside url_identity_udf must be EXACTLY
    the identity/extract that the per-row slow path would compute —
    for every URL it accepts. Adversarial shapes (ports, userinfo, dot
    segments, escapes, fragments, uppercase, IDN) must be routed to
    the slow path."""
    import pandas as pd

    from jsonextract_spark.functions.udfs import _fast_url_parts
    from jsonextract_spark.functions.urlhash import (
        canonicalize_url, url_host)

    s = pd.Series(_URL_EDGE_CASES, dtype=object)
    fast, ext = _fast_url_parts(s)
    n_fast = 0
    for i, u in enumerate(_URL_EDGE_CASES):
        if not fast[i]:
            continue
        n_fast += 1
        assert u == canonicalize_url(u), u      # identity provable
        assert ext[1][i] == url_host(u), u
    assert n_fast >= 5           # the canonical shapes actually hit it
    # and every synthetic-corpus URL takes the fast path
    from jsonextract_spark.crawl import synth

    corp = pd.Series([synth.url_of(i) for i in range(500)])
    fast2, _ = _fast_url_parts(corp)
    assert bool(fast2.all())


def test_url_fast_path_property():
    """Property: for ARBITRARY strings, whenever the vectorized screen
    accepts a URL, the per-row functions must agree that it is already
    canonical and extract the same host. (Soundness only — the fast
    path may conservatively decline anything.)"""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from jsonextract_spark.functions.udfs import _fast_url_parts
    from jsonextract_spark.functions.urlhash import (
        canonicalize_url, url_host)

    tail = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=40)

    @settings(max_examples=300, deadline=None)
    @given(tail)
    def check(s):
        urls = pd.Series([s, "http://" + s, "https://a-b.example/" + s,
                          f"https://{s}.example/p/1"], dtype=object)
        fast, ext = _fast_url_parts(urls)
        for i, u in enumerate(urls):
            if fast[i]:
                assert canonicalize_url(u) == u, u
                assert url_host(u) == ext[1][i], u

    check()


def test_extract_pages_input_contract(spark):
    """extract_pages consumes the input-contract pages shape
    (url, warc_ts, html binary, text, lang); the html-bytes path and
    the text path extract identical objects on UTF-8 pages."""
    from jsonextract_spark.crawl import synth
    from jsonextract_spark.operators import extract_pages

    rows = []
    for i in range(8):
        t = synth.page_text(i)
        rows.append((synth.url_of(i), None, t.encode("utf-8"), t, "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string,"
              " lang string")

    via_html = extract_pages(pages, use_html=True)
    via_text = extract_pages(pages, use_html=False)
    assert set(via_html.columns) == {"url", "warc_ts", "lang", "pos",
                                     "obj"}
    h = sorted((r["url"], r["pos"], r["obj"]) for r in via_html.collect())
    t = sorted((r["url"], r["pos"], r["obj"]) for r in via_text.collect())
    assert h == t and len(h) >= 8
