"""Sitemap ingestion (sitemaps.org protocol + robots.txt ``Sitemap:``
lines) — the crawler's second URL-discovery channel besides link
extraction.

Shape: discovery is a ``mapInPandas`` kernel over the DISTINCT host
set (like the robots provider — at 10^6-10^7 hosts the GETs must run
executor-side, never on the driver), and seeding is a maintenance
ROUND in the ``schedule_recrawl`` mold: the new URLs are written as a
fresh full frontier base at ``after_round + 1`` with ``is_new=1`` (so
the same write doubles as their seen delta, exactly like round-0
seeds, so later links to them are gated away), and the ledger records
``phase="sitemap"`` with a ``seeds`` count.

Parsing is crawl-grade: a bounded regex scan for ``<loc>`` values
inside ``<sitemap>`` (index entries) vs elsewhere (page URLs) — no XML
parser, so entity-expansion bombs and malformed markup cannot hurt;
gzip payloads (.xml.gz) inflate through a decompressobj with an
explicit output cap (the PNG-bomb discipline). Per-host budgets bound
every axis: sitemaps fetched, index children followed (one level, per
the protocol), URLs kept.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterable, Iterator

import pandas as pd

SITEMAP_MAX_BYTES = 8 << 20      # decompressed cap per sitemap doc
SITEMAP_MAX_URLS = 50_000        # protocol max per sitemap

# [^<]-bounded: a <loc> value cannot contain '<', so the pattern
# never backtracks across tags — the earlier non-greedy '.*?' form
# rescanned to EOF per match on unclosed-tag garbage, a measured
# QUADRATIC executor-side CPU DoS (~hours at the 8MB cap; review r8)
_LOC_RE = re.compile(rb"<loc>\s{0,64}([^<]{1,4096}?)\s{0,64}</loc>")
_ENT = {b"&amp;": b"&", b"&lt;": b"<", b"&gt;": b">",
        b"&quot;": b'"', b"&apos;": b"'"}


def _unescape(loc: bytes) -> str:
    for k, v in _ENT.items():
        loc = loc.replace(k, v)
    return loc.decode("utf-8", "replace")


def _maybe_gunzip(data: bytes) -> bytes:
    if data[:2] != b"\x1f\x8b":
        return data
    d = zlib.decompressobj(wbits=31)
    try:
        out = d.decompress(data, SITEMAP_MAX_BYTES + 1)
    except zlib.error as e:
        raise ValueError(f"sitemap: bad gzip stream ({e})") from None
    if len(out) > SITEMAP_MAX_BYTES:
        raise ValueError("sitemap: decompressed size exceeds the cap")
    return out


def extract_sitemap_locs(data: bytes,
                         limit: int = SITEMAP_MAX_URLS
                         ) -> tuple[list[str], list[str]]:
    """-> (page_urls, child_sitemap_urls), each capped at ``limit``.

    ``<loc>`` values inside ``<sitemap>`` elements are index children
    (sitemaps.org ``<sitemapindex>``); every other ``<loc>`` is a page
    URL (``<urlset>``). Tolerant of junk around/between elements by
    construction — the scan only ever matches the two patterns."""
    data = _maybe_gunzip(data[:SITEMAP_MAX_BYTES + (2 << 20)])
    # LINEAR block scan via C-speed find (no regex over block bodies):
    # an UNCLOSED <sitemap> block extends to EOF for classification —
    # a size-capped index truncated mid-block must not reclassify its
    # dangling <loc> (a sitemap URL) as a PAGE url and seed the XML
    # file itself into the crawl frontier (review r8)
    spans = []
    pos = 0
    while True:
        a = data.find(b"<sitemap", pos)
        if a < 0:
            break
        nxt = a + 8
        if nxt < len(data) and data[nxt:nxt + 1] not in (
                b">", b" ", b"\t", b"\r", b"\n"):
            pos = nxt        # <sitemapindex ...> etc: not a block
            continue
        b = data.find(b"</sitemap>", a)
        end = len(data) if b < 0 else b + 10
        spans.append((a, end))
        pos = end
    children: list[str] = []
    pages: list[str] = []
    si = 0
    for m in _LOC_RE.finditer(data):
        while si < len(spans) and spans[si][1] <= m.start():
            si += 1
        inside = si < len(spans) and spans[si][0] <= m.start()
        if inside:
            if len(children) < limit:
                children.append(_unescape(m.group(1)))
        elif len(pages) < limit:
            pages.append(_unescape(m.group(1)))
    return pages, children


def sitemap_urls_from_robots(robots_txt: bytes,
                             origin: str) -> list[str]:
    """``Sitemap:`` directives (case-insensitive, full-line URLs per
    RFC 9309 §2.3); falls back to ``{origin}/sitemap.xml`` when robots
    names none (the de-facto default location)."""
    out = []
    for line in robots_txt.splitlines():
        parts = line.split(b":", 1)
        if len(parts) == 2 and parts[0].strip().lower() == b"sitemap":
            url = parts[1].strip().decode("utf-8", "replace")
            if url:
                out.append(url)
    return out or [origin.rstrip("/") + "/sitemap.xml"]


def make_sitemap_source(timeout_sec: float = 10.0,
                        max_bytes: int = SITEMAP_MAX_BYTES,
                        max_sitemaps_per_host: int = 4,
                        max_children_per_index: int = 8,
                        max_urls_per_host: int = 10_000):
    """Build the discovery kernel: mapInPandas over (host, url) rows —
    one representative URL per host supplies the origin — yielding
    (host, url) page rows from the host's sitemaps. Budgets bound
    every host regardless of what its sitemaps claim."""
    from jsonextract_spark.crawl.fetch_http import _fetch_one

    def kernel(batches: Iterable[pd.DataFrame]
               ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts_out, urls_out = [], []
            for host, sample_url in zip(pdf["host"], pdf["url"]):
                m = re.match(r"^(https?://[^/]+)", str(sample_url))
                if not m:
                    continue
                origin = m.group(1)
                status, body, _err, _furl = _fetch_one(
                    origin + "/robots.txt", timeout_sec, max_bytes)
                roots = sitemap_urls_from_robots(
                    body if status == 200 else b"", origin)
                queue = [(u, True)
                         for u in roots[:max_sitemaps_per_host]]
                budget = max_urls_per_host
                fetched = 0
                while queue and budget > 0 and \
                        fetched < max_sitemaps_per_host + \
                        max_children_per_index:
                    sm_url, is_root = queue.pop(0)
                    fetched += 1
                    status, body, _err, _furl = _fetch_one(
                        sm_url, timeout_sec, max_bytes)
                    if status != 200:
                        continue
                    try:
                        pages, children = extract_sitemap_locs(body)
                    except ValueError:
                        continue        # malformed sitemap: skip host
                    for u in pages[:budget]:
                        hosts_out.append(host)
                        urls_out.append(u)
                    budget -= min(len(pages), budget)
                    if is_root:
                        # ONE index level, per the protocol: children
                        # of children are never enqueued
                        queue.extend(
                            (c, False)
                            for c in children[:max_children_per_index])
            if not hosts_out:
                continue                # empty Arrow batch: skip
            yield pd.DataFrame({"host": hosts_out, "url": urls_out})

    return kernel


def seed_from_sitemaps(spark, wh, after_round: int,
                       source_kernel=None,
                       hosts=None) -> int:
    """Maintenance round: discover sitemap URLs for the frontier's
    hosts (or an explicit (host, url) origin table), seen-gate them,
    and append the survivors to the frontier as a new full base at
    ``after_round + 1`` with ``is_new=1`` (seen delta). ``hosts`` is
    an optional SPARK DataFrame of (host, url) origin rows replacing
    the frontier-derived host set. Returns the number of NEW urls
    added (0 = no round consumed)."""
    from pyspark.sql import functions as F

    from jsonextract_spark.crawl.pipeline import (
        _drop_stale_compact, _drop_uncommitted_round_state,
        _with_url_identity, load_frontier, load_seen)
    from jsonextract_spark.crawl.scheduler import priority_of

    if source_kernel is None:
        source_kernel = make_sitemap_source()
    frontier = load_frontier(spark, wh, after_round)
    if hosts is None:
        # discovery candidates = PENDING hosts ∪ CRAWLED hosts (a
        # fully-drained host has an empty frontier but its sitemaps
        # are exactly what would refill it); the fetched ledger
        # supplies a sample URL per crawled host
        cand = frontier.select("host", "url")
        fetched_dirs = [wh._path("fetched", r["round"])
                        for r in wh.ledger()["rounds"]
                        if r.get("status") == "committed"
                        and not r.get("empty")
                        and wh.exists("fetched", r["round"])]
        if fetched_dirs:
            led = (spark.read.parquet(*fetched_dirs)
                   .select("host", "url"))
            cand = cand.unionByName(led)
        hosts = cand.groupBy("host").agg(F.min("url").alias("url"))
    raw = hosts.mapInPandas(source_kernel, "host string, url string")
    ident = (_with_url_identity(raw)
             .select("url", "url_hash", "host")
             .dropDuplicates(["url_hash"]))
    seen = load_seen(spark, wh, after_round)
    fresh = (ident.join(seen, "url_hash", "left_anti")
             .withColumn("depth", F.lit(0))
             .withColumn("priority", priority_of(F.lit(0)))
             .withColumn("attempts", F.lit(0))
             .select("url", "url_hash", "host", "depth", "priority",
                     "attempts")
             .cache())
    n = fresh.count()
    if n == 0:
        fresh.unpersist()
        return 0
    rn = after_round + 1
    _drop_uncommitted_round_state(wh, rn)
    for tbl in ("seen_compact", "host_stats_compact"):
        _drop_stale_compact(wh, tbl, rn)
    merged = (frontier.withColumn("is_new", F.lit(0))
              .unionByName(fresh.withColumn("is_new", F.lit(1))))
    # rebalance: this base is re-read by EVERY later round's replay —
    # without it the write inherits the union's task fan-out as tiny
    # files (guide §6; no observation rides this write, so the AQE
    # REBALANCE form is safe here)
    wh.save(merged, "frontier", rn, partition_by="is_new",
            rebalance=True)
    wh.commit_round(rn, {"phase": "sitemap", "seeds": n})
    fresh.unpersist()
    return n
