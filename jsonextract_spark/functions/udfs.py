"""Arrow-batched pandas UDFs — the only Python↔JVM crossing points.

Everything here is vectorized at the DataFrame API level (input_hint:
"vectorized pandas/Arrow UDFs, no per-row Python"): Spark hands us Arrow
record batches, we loop inside the batch in CPython over the extraction
kernel, and hand Arrow back. The extraction kernel itself is pure
computation per document — embarrassingly parallel, no shuffle.

Plan shape (flagship query):
  Scan parquet/Iceberg → Project(url, text) → ArrowEvalPython(extract)
  → Generate(posexplode) → Filter(json predicates) → Window top-k → sink
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from jsonextract_spark.kernel.scanner import (
    extract_budgeted,
    page_work_budget as _budget,  # noqa: F401 (perfbench imports it)
)
from jsonextract_spark.kernel.objects import (
    ObjectOption,
    CallbackNeverCalled,
    match_objects,
)
from jsonextract_spark.functions.urlhash import (
    canonicalize_url,
    murmur3_64_batch,
    url_host,
)

# -- extraction ------------------------------------------------------------

@F.pandas_udf(ArrayType(StringType()))
def extract_objects_udf(texts: pd.Series) -> pd.Series:
    """text -> array of normalized JSON strings (callback order)."""
    return texts.map(lambda s: None if s is None else extract_budgeted(s))


@F.pandas_udf(ArrayType(StringType()))
def extract_objects_bin_udf(blobs: pd.Series) -> pd.Series:
    """html binary -> array of JSON strings (UTF-8 bytes in, like Go)."""
    def one(b):
        if b is None:
            return None
        return [m.decode("utf-8", "replace")
                for m in extract_budgeted(bytes(b))]
    return blobs.map(one)


def make_match_objects_udf(options: list[dict]):
    """Build a UDF applying Objects() dispatch with data-only options.

    ``options`` example: ``[{"keys": ["videoId","title"], "limit": None,
    "required": False}, ...]``. Returns array<struct<opt int, obj string>>
    in callback order — the exact call sequence the reference would make.
    """
    spec = [(tuple(o.get("keys", ())), o.get("limit"), bool(o.get("required")))
            for o in options]
    out_type = ArrayType(StructType([
        StructField("opt", LongType()),
        StructField("obj", StringType()),
    ]))

    @F.pandas_udf(out_type)
    def match_udf(objects: pd.Series) -> pd.Series:
        def one(vals):
            if vals is None:
                return None
            opts = [ObjectOption(keys=list(k), limit=lim, required=req)
                    for (k, lim, req) in spec]
            calls: list[tuple[int, str]] = []
            for idx, o in enumerate(opts):
                o.callback = _collector(calls, idx, o)
            try:
                match_objects(list(vals), opts)
            except CallbackNeverCalled:
                pass  # surfaced via the required_missing helper instead
            return calls
        return objects.map(one)

    def _collector(calls, idx, opt):
        from jsonextract_spark.kernel.objects import ERR_STOP

        def cb(raw):
            calls.append((idx, raw))
            opt.matches.append(raw)
            if opt.limit is not None and len(opt.matches) >= opt.limit:
                return ERR_STOP
            return None
        return cb

    return match_udf


# -- URL functions ----------------------------------------------------------
#
# Most crawl URLs are ALREADY canonical (lowercase scheme+host, no port/
# userinfo/fragment/percent-escapes/dot-segments) — for those,
# canonicalize is the identity and the host is one regex group, so
# url_identity_udf pre-screens the whole Arrow batch with vectorized
# pandas .str ops and falls back to the per-row urlsplit path only for
# irregular rows.
# The fast-path predicate is deliberately CONSERVATIVE: it only accepts
# URLs where identity is provable from the shape (any '%', '#', '?'
# with empty query, port, userinfo, uppercase host, '//' or '/.' inside
# the path sends the row to the exact slow path). Fast/slow agreement
# is pinned by tests over adversarial URLs.

import re as _re

_FAST_URL_RE = _re.compile(
    r"^(https?)://([a-z0-9-]+(?:\.[a-z0-9-]+)*)"        # lc host, no port
    r"(/[A-Za-z0-9\-._~!$&'()*+,;=:@/]*)"               # path, no % ? #
    r"(\?[A-Za-z0-9\-._~!$&'()*+,;=:@/%]+)?$")          # non-empty query


def _fast_url_parts(urls: pd.Series) -> tuple[pd.Series, pd.DataFrame]:
    ext = urls.str.extract(_FAST_URL_RE)
    path = ext[2]
    ok_path = (~path.str.contains("//", regex=False, na=True) &
               ~path.str.contains("/.", regex=False, na=True))
    return (ext[0].notna() & ok_path), ext


def _murmur3_series(texts: pd.Series) -> pd.Series:
    """Batch-vectorized murmur3 over a string Series (null-preserving):
    one numpy pass per Arrow batch, no per-row Python hashing."""
    if not texts.isna().any():
        return pd.Series(murmur3_64_batch(texts.tolist()),
                         index=texts.index)
    valid = texts.notna().to_numpy()
    out = pd.Series([None] * len(texts), index=texts.index, dtype=object)
    if valid.any():
        vals = murmur3_64_batch(texts[valid].tolist())
        out.iloc[valid.nonzero()[0]] = [int(v) for v in vals]
    return out


_URL_IDENTITY_TYPE = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
])


@F.pandas_udf(_URL_IDENTITY_TYPE)
def _url_identity(urls: pd.Series) -> pd.DataFrame:
    """Fused canonicalize + murmur3 + host in ONE Python crossing.

    The link gate needs all three per candidate URL every round; as
    three chained scalar UDFs they are three ArrowEvalPython round
    trips (dependent UDFs cannot fuse). One struct-returning UDF makes
    it a single round trip: vectorized already-canonical screen,
    per-row urlsplit only for irregular rows, batch murmur3 over the
    canonical strings. url=NULL marks non-crawlable input (callers
    filter), matching canonicalize_url's contract."""
    fast, ext = _fast_url_parts(urls)
    canon = urls.where(fast)
    host = ext[1].where(fast)
    slow = ~fast
    if slow.any():
        canon[slow] = urls[slow].map(
            lambda u: None if u is None else canonicalize_url(u))
        # host comes from the CANONICAL form (already lowercased,
        # trailing dot stripped) — same as url_host(canonical)
        host[slow] = canon[slow].map(
            lambda u: None if u is None else url_host(u))
    return pd.DataFrame({"url": canon,
                         "url_hash": _murmur3_series(canon),
                         "host": host})


# The function IS deterministic — the nondeterministic mark is purely
# an optimizer barrier: without it Catalyst pushes the url-IS-NOT-NULL
# filter below the projection by DUPLICATING the UDF call, paying two
# Python round trips per row (pinned by
# test_url_identity_fused_single_crossing).
url_identity_udf = _url_identity.asNondeterministic()


# -- link discovery ----------------------------------------------------------

def _links_from_objs(objs: list[str]) -> list[str]:
    """Outlinks from already-extracted values: every object contributes
    its 'links' array of strings and any 'href' string values."""
    links: list[str] = []
    for obj in objs:
        try:
            v = json.loads(obj)
        except (ValueError, RecursionError):
            # too deep for the decoder counts as a decode failure, the
            # rule gojson.json_valid uses
            continue
        _collect_links(v, links)
    return links


def _links_from_text(text: str) -> list[str]:
    """Discover outlinks via the extraction kernel itself, so link
    discovery exercises the exact same code path as payload extraction."""
    return _links_from_objs(extract_budgeted(text))


def _collect_links(root, out: list[str]):
    """Pre-order walk with an explicit stack, so any nesting depth fits:
    per object its 'links' strings, then its 'href', then its other
    values in sorted-key order; array elements in order; each subtree
    finished before its next sibling."""
    stack = [root]
    while stack:
        v = stack.pop()
        if isinstance(v, dict):
            ls = v.get("links")
            if isinstance(ls, list):
                out.extend(x for x in ls if isinstance(x, str))
            href = v.get("href")
            if isinstance(href, str):
                out.append(href)
            stack.extend(v[k] for k in sorted(v, reverse=True)
                         if k not in ("links", "href"))
        elif isinstance(v, list):
            stack.extend(reversed(v))


@F.pandas_udf(ArrayType(StringType()))
def extract_links_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda s: None if s is None else _links_from_text(s))
