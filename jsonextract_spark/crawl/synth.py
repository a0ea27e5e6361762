"""Deterministic synthetic web universe (the sandbox "fetcher").

The driver rule forbids external data, so the fetch stage is a pure
function of the URL: page ``i`` always has the same bytes, the same
outlinks and the same embedded JS objects. That makes the whole crawl a
deterministic function of (seed list, politeness budget) — which is what
lets the tests assert identical crawl ordering and seen-sets across runs,
across local[8]/local[32], and across kill/resume.

The link graph is intentionally SQL-expressible (affine maps mod U) so a
DuckDB ``WITH RECURSIVE`` oracle can independently compute reachable
sets — see __spark_entry__.q_crawl_reachable.

In production this module is replaced by an HTTP fetch stage
(``mapInPandas`` batch fetcher per politeness bucket, like the reference
CLI's browser-header GET — cmd/jsonx/main.go:64-87); everything else in
the pipeline is unchanged.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

# pages in the synthetic web — 1M since r9 (the 100k universe put the
# steady-state and bigbatch benches one round from its exhaustion
# cliff: 3x50k rounds drained it entirely, so multi-round steady could
# only run at 25k/round; the r5 phantom-cliff lesson). Same generator,
# same determinism — only the id space is wider.
UNIVERSE = 1_000_000
HOSTS = 50                  # synthetic hosts
HOT_SHARE_MOD = 5           # i % 5 < 2 -> host 0  (40% of pages: heavy skew)
LINK_COEFFS = ((7, 1), (7, 2), (13, 5), (31, 11))
EPOCH = 1_600_000_000       # fixed base timestamp

_KNUTH = 2654435761
_2_32 = 1 << 32


def host_of(i: int) -> int:
    if i % HOT_SHARE_MOD < 2:
        return 0
    return ((i * _KNUTH) % _2_32) % HOSTS


def url_of(i: int) -> str:
    return f"https://host{host_of(i)}.example/p/{i}"


def page_id_from_url(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def links_of(i: int) -> list[int]:
    return [(a * i + b) % UNIVERSE for a, b in LINK_COEFFS]


def robots_disallowed_host(h: int) -> bool:
    return h % 7 == 3


def page_text(i: int) -> str:
    """Page body embedding JS objects: one mixed-notation object carrying
    the outlinks (exercises unquoted keys, single quotes, trailing comma,
    hex numbers), one strict ld+json block, and one non-extractable decoy
    (arithmetic expression, must be rejected like reader_test.go:700)."""
    links = ", ".join(f"'{url_of(l)}'" for l in links_of(i))
    return (
        "<!doctype html><html><head>"
        f"<title>Page {i}</title>"
        '<script type="application/ld+json">'
        f'{{"@type": "WebPage", "pid": {i}, "host": {host_of(i)}}}'
        "</script></head><body>"
        "<script>\n"
        "// navigation payload\n"
        f"var page = {{id: {i}, flags: 0x{i % 256:x}, "
        f"title: 'Page {i} &amp; friends', links: [{links}], }};\n"
        f"var broken = {{oops: {i}+{i} }};\n"
        "</script>"
        f"<p>{'word%d ' % (i % 97) * 12}</p>"
        "</body></html>"
    )


def make_fetch_extract(archive_dir: str | None = None):
    """Build the fused fetch + extract + link-discovery kernel (ONE
    Arrow stage).

    Chaining fetch -> extract -> links as three Python stages runs three
    workers per core (oversubscription measured at ~0.55 scaling
    efficiency); fusing restores one worker per core (~0.85+,
    BENCH/BASELINE.md).

    ``archive_dir`` tees every page's fetched bytes into per-task WARC
    shards inside the same pass (fetch-time archival — no second fetch,
    no extra Spark action; see ``warc.ShardWriter``). The per-round
    binding happens in the pipeline via the ``bind_archive`` attribute
    every archival-capable kernel exposes.
    """
    def kernel(rows: Iterable[pd.DataFrame]):
        from jsonextract_spark.kernel.scanner import extract_budgeted
        from jsonextract_spark.functions.udfs import _links_from_objs

        writer = None
        if archive_dir is not None:
            from jsonextract_spark.crawl.warc import ShardWriter
            writer = ShardWriter(archive_dir)
        for pdf in rows:
            ids = pdf["url"].map(page_id_from_url)
            texts = ids.map(page_text)
            objs = texts.map(extract_budgeted)
            links = objs.map(_links_from_objs)
            warc_ts = pd.to_datetime(EPOCH + ids, unit="s")
            if writer is not None:
                for u, t, txt in zip(pdf["url"], warc_ts, texts):
                    writer.add(u, t, txt.encode("utf-8"))
            yield pd.DataFrame({
                "url": pdf["url"],
                # url_hash passes through to the fetched ledger: the
                # round's popped set IS the frontier-delta removal
                # list, so the ledger must carry the frontier's key
                # (pipeline r6)
                "url_hash": pdf["url_hash"],
                "host": pdf["host"],
                "warc_ts": warc_ts,
                "text": texts,
                "lang": "en",
                "depth": pdf["depth"],
                "batch_id": pdf["batch_id"],
                "rank": pdf["rank"],
                "n_objects": objs.map(len),
                "links": links,
                "bytes": texts.map(len),
                "blocked": False,
                "retry": False,
            })
        if writer is not None:
            writer.close()

    kernel.bind_archive = make_fetch_extract
    return kernel


# the default (archive-less) instance — the name every pipeline call
# site and test has always used
fetch_extract_partition = make_fetch_extract()


# NOTE: every fetch kernel must copy the input batch's ``url_hash``
# through to its output (the popped rows double as the frontier-delta
# removal list — see pipeline.load_frontier).
FETCH_EXTRACT_SCHEMA = (
    "url string, url_hash long, host string, warc_ts timestamp,"
    " text string, lang string,"
    " depth int, batch_id int, rank long, n_objects int,"
    " links array<string>, bytes int, blocked boolean, retry boolean"
)


def seed_urls(n_seeds: int) -> list[str]:
    """Deterministic seed list: every k-th page of the universe."""
    step = max(UNIVERSE // max(n_seeds, 1), 1)
    return [url_of((i * step + 3) % UNIVERSE) for i in range(n_seeds)]
