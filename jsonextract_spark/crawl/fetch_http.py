"""Real HTTP fetch stage (production path for crawl/synth.py's slot).

``make_fetch_extract_kernel`` builds the fused fetch + extract +
link-discovery ``mapInPandas`` kernel. Each task owns a politeness
bucket of URLs (the pipeline repartitions by salted host before calling
it) and fetches sequentially within the task, pacing each host on the
scheduler's ``eff_delay`` (which carries the host's robots ask) — so
per-host politeness is enforced structurally by partitioning, not by a
global rate limiter. The kernel's advertised robots resolver feeds the
round's ``robots`` table (see the robots section below). Browser-ish
headers match the reference CLI (cmd/jsonx/main.go:19-32, 64-87).
Tests drive the kernel against a local http.server.
"""

from __future__ import annotations

import time
from typing import Iterable, Iterator

import pandas as pd

from jsonextract_spark.crawl.scheduler import DEFAULT_POLITENESS_FLOOR_SEC

_HEADERS = {
    "User-Agent": "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 "
                  "(KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,"
              "*/*;q=0.8",
    "Accept-Language": "en-US,en;q=0.9",
}


def _fetch_one(url: str, timeout_sec: float, max_bytes: int
               ) -> tuple[int, bytes, str | None, str]:
    """One isolated GET (page or robots.txt): returns
    (status, body, err, final_url); failures never raise. HTTP error
    statuses (4xx/5xx) return their REAL code — robots handling must
    tell 'no robots.txt' (4xx -> allow) from 'server broken' (5xx ->
    temporary disallow, RFC 9309); status 0 means no HTTP response at
    all (network/DNS/timeout). ``final_url`` is the POST-REDIRECT
    address (urlopen follows redirects) — relative links on a
    redirected page must resolve against it, not the requested URL,
    or every such link lands in the frontier wrong."""
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    try:
        req = Request(url, headers=_HEADERS)
        with urlopen(req, timeout=timeout_sec) as resp:
            return (resp.status, resp.read(max_bytes), None,
                    resp.geturl() or url)
    except HTTPError as e:
        return e.code, b"", f"HTTPError: {e.code}", url
    except Exception as e:  # noqa: BLE001 — per-url isolation
        return 0, b"", f"{type(e).__name__}: {e}", url


# -- robots.txt --------------------------------------------------------------
#
# Robots verdicts are crawl state, not worker memory. The kernel's
# advertised resolver (``kernel.robots``) fetches and parses robots.txt
# executor-side, once per host the round has no valid verdict for;
# pipeline.run_round saves its rows as the round's ``robots`` Warehouse
# table, and later rounds reuse each host's definitive verdict until
# pipeline.ROBOTS_TTL_SEC passes (pipeline.load_robots). Verdicts are
# keyed by host, like every per-host table the scheduler joins: the
# resolver asks the origin of the host's smallest frontier URL. The
# fetch kernel never fetches robots.txt itself. Live crawls honor
# robots at both layers:
# * scheduler gate: pop_batch's host-level ``allowed`` column
#   (can_fetch(UA, "/") — a host whose root is disallowed is never
#   popped) and its ``crawl_delay`` ask, which pop_batch coalesces
#   into the batch's ``eff_delay``;
# * fetch kernel: per-URL ``can_fetch`` right before the GET, against
#   the host's ``robots_txt`` carried on the batch (robots rules are
#   per-path; the host-level gate alone would over-crawl hosts that
#   only disallow subtrees). Blocked URLs are never GET'd but emit a
#   zero-byte ``blocked=true`` ledger row so the frontier diff always
#   subtracts them (an all-blocked batch must not stall the crawl).
#
# Response handling: 200 -> the body is the rules; 4xx (robots.txt
# "unavailable" per RFC 9309 §2.3.1) -> allow-all; 5xx ("unreachable")
# -> complete DISALLOW as the RFC prescribes. No HTTP response at all
# (network/DNS/timeout) -> allow-all — a DELIBERATE DEVIATION from
# RFC 9309, which treats an unreachable robots.txt as complete
# disallow: connection-level failures are overwhelmingly the CLIENT's
# environment (DNS hiccup, route flap, our own timeout), and
# disallowing on them would let a transient local fault blackhole
# whole hosts. 5xx and no-response verdicts are non-definitive: the
# round uses them, but no later round reuses them (the next round that
# sees the host resolves it again) and compaction drops them, and the
# fetch kernel DEFERS (not consumes) URLs a non-definitive verdict
# blocks.

ROBOTS_TIMEOUT_SEC = 10.0
ROBOTS_MAX_BYTES = 1 << 20
_DISALLOW_ALL = "User-agent: *\nDisallow: /"


def _parse_robots(text: str):
    import urllib.robotparser

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(text.splitlines())
    return rp


def _crawl_delay(rp, user_agent: str) -> float | None:
    """Seconds the host asks crawlers to wait between requests:
    ``Crawl-delay`` if present, else derived from ``Request-rate``
    (seconds/requests); None when unspecified."""
    d = rp.crawl_delay(user_agent)
    if d is not None:
        return float(d)
    rr = rp.request_rate(user_agent)
    if rr is not None and rr.requests:
        return rr.seconds / rr.requests
    return None


def _resolve_robots(url: str, user_agent: str):
    """GET ``url``'s origin robots.txt once: returns (allowed,
    crawl_delay, robots_txt, definitive). ``robots_txt`` is the
    effective rules text — the body on 200, a complete disallow on
    5xx, None (allow-all) on 4xx or no response; ``allowed`` is whether
    the root may be fetched."""
    from urllib.parse import urlsplit

    p = urlsplit(url)
    origin = f"{p.scheme}://{p.netloc}"
    status, body, _err, _furl = _fetch_one(
        origin + "/robots.txt", ROBOTS_TIMEOUT_SEC, ROBOTS_MAX_BYTES)
    if status == 200:
        text, definitive = body.decode("utf-8", "replace"), True
    elif status >= 500:
        text, definitive = _DISALLOW_ALL, False
    else:
        # 4xx: no robots.txt, definitive; 0: no response, the
        # deviation above
        text, definitive = None, status != 0
    if text is None:
        return True, None, None, definitive
    rp = _parse_robots(text)
    return (rp.can_fetch(user_agent, origin + "/"),
            _crawl_delay(rp, user_agent), text, definitive)


def _make_pacer():
    """Per-task request pacer: ``pace(key, ask)`` sleeps so consecutive
    requests with the same key (host) are at least ``ask``
    seconds apart, then stamps the key. The pipeline routes a
    crawl-delay-asking host's URLs to ONE task (no salting for such
    hosts), so this per-task clock is the host's clock within a round;
    the scheduler's host_stats.last_fetch_ts gate spaces rounds."""
    last_hit: dict = {}

    def pace(key, ask):
        if ask and ask > 0:
            wait = last_hit.get(key, float("-inf")) + float(ask) \
                - time.time()
            if wait > 0:
                time.sleep(min(wait, 60.0))
        last_hit[key] = time.time()

    return pace


def make_fetch_extract_kernel(timeout_sec: float = 30.0,
                              max_bytes: int = 4 << 20,
                              user_agent: str | None = None,
                              default_delay_sec: float = DEFAULT_POLITENESS_FLOOR_SEC,
                              hot_hosts=None):
    """Compose the real HTTP fetcher with extraction + link discovery
    into the pipeline's fused kernel shape (synth.FETCH_EXTRACT_SCHEMA),
    so ``run_crawl(..., fetch_kernel=make_fetch_extract_kernel(...))``
    crawls live HTTP instead of the synthetic corpus. Failed fetches
    yield a row with n_objects=0 and no links (the crawl keeps going;
    the error detail lives in the fetched bytes=0 signal).

    Link discovery is the union of the extracted JSON objects'
    ``links``/``href`` values (the reference-shaped channel the
    synthetic corpus uses) and every real ``<a href>`` on the page
    (datapipe/html_text.extract_links — resolved against the page URL,
    fragments stripped, non-navigational schemes dropped),
    order-preserving first-seen dedup.

    Robots: each URL is checked against its host's robots.txt
    per-path rules immediately before the GET. The input batch carries
    the host's ``robots_txt`` (effective rules text, null = allow-all)
    and ``definitive`` columns from the round's robots table; each
    body is parsed once per host per task. Disallowed URLs are never
    GET'd but DO emit a zero-byte ledger row with ``blocked=true`` —
    the row keeps the round's processed count non-zero, so the
    frontier diff subtracts them (a batch that is 100% robots-blocked
    must not republish the frontier unchanged and deterministically
    re-pop the same blocked URLs every round while allowed URLs wait
    deeper in the frontier). A NON-definitive disallow (robots.txt
    5xx — temporary per RFC 9309) additionally sets ``retry=true``:
    the pipeline returns those URLs to the frontier, so a momentary
    outage defers instead of blackholing them. The returned callable
    advertises its robots resolver as ``.robots``: a ``mapInPandas``
    function from one (host, url) row per host to
    ``tables.ROBOTS_SCHEMA`` rows, which ``run_round`` runs for the
    hosts the round has no valid verdict for.

    Pacing: each URL waits on the row's ``eff_delay`` — the delay
    ``scheduler.pop_batch`` resolved for the host (the robots
    Crawl-delay/Request-rate ask, else the floor, hot-host exemption
    and automatic hot-host detection; null means full rate). Reading
    the scheduler's value keeps the pacer and the scheduler's
    single-task routing in lockstep by construction.

    ``default_delay_sec`` (default
    ``scheduler.DEFAULT_POLITENESS_FLOOR_SEC``) and ``hot_hosts`` only
    set the politeness config the kernel ADVERTISES as attributes on
    the returned callable; ``run_crawl`` reads them as its floor and
    hot-host list, so the scheduler resolves each host's delay from
    them."""
    import pandas as pd  # noqa: F811 (executor-side import)

    ua = user_agent or _HEADERS["User-Agent"]

    def resolve_robots(batches: Iterable[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            allowed, delays, rules, definitive = map(list, zip(
                *[_resolve_robots(u, ua) for u in pdf["url"]]))
            yield pd.DataFrame({
                "host": pdf["host"],
                "allowed": allowed,
                # nullable Float64: None must reach Spark as NULL, not
                # NaN (NaN survives coalesce() and would poison the
                # scheduler's eligibility comparison)
                "crawl_delay": pd.array(delays, dtype="Float64"),
                "robots_txt": rules,
                "definitive": definitive,
                "fetched_at": time.time(),
            })

    def _build(archive_dir: str | None = None):
        def kernel(batches: Iterable[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
            from datetime import datetime, timedelta

            from jsonextract_spark.datapipe.html_text import page_hrefs
            from jsonextract_spark.functions.udfs import _links_from_objs
            from jsonextract_spark.kernel.scanner import extract_budgeted

            writer = None
            if archive_dir is not None:
                from jsonextract_spark.crawl.warc import ShardWriter
                writer = ShardWriter(archive_dir)
            pace = _make_pacer()
            parsers: dict = {}   # host -> RobotFileParser | None
            for pdf in batches:
                if not len(pdf):
                    continue
                texts, stamps, sizes = [], [], []
                blocked, retry, bases = [], [], []
                for url, host, eff, rules, definitive in zip(
                        pdf["url"], pdf["host"], pdf["eff_delay"],
                        pdf["robots_txt"], pdf["definitive"]):
                    if host not in parsers:
                        parsers[host] = (None if pd.isna(rules)
                                         else _parse_robots(rules))
                    rp = parsers[host]
                    if rp is not None and not rp.can_fetch(ua, url):
                        body = b""
                        bases.append(url)
                        blocked.append(True)
                        # non-definitive disallow (robots.txt 5xx) is
                        # TEMPORARY: mark the row for retry so the
                        # pipeline returns the URL to the frontier
                        # instead of consuming it — a momentary outage
                        # must not blackhole a host's batch
                        retry.append(not definitive)
                    else:
                        pace(host, eff)
                        _status, body, _err, _furl = _fetch_one(
                            url, timeout_sec, max_bytes)
                        # relative links on a redirected page resolve
                        # against the POST-redirect address
                        bases.append(_furl)
                        blocked.append(False)
                        # transient fetch failures (5xx / no response) are
                        # retried like temporary robots blocks — the
                        # pipeline re-frontiers them with a bounded
                        # attempts count; 4xx is a definitive answer
                        retry.append(_status == 0 or _status >= 500)
                    sizes.append(len(body))  # bytes fetched, not chars
                    texts.append(body.decode("utf-8", "replace"))
                    stamps.append(time.time())
                    if writer is not None and body:
                        # archive the bytes AS FETCHED, stamped with the
                        # exact whole-µs instant the ledger row carries
                        # (integer µs, matching the warc_ts cast below)
                        writer.add(url, datetime(1970, 1, 1) + timedelta(
                            microseconds=int(stamps[-1] * 1e6)), body)
                objs = [extract_budgeted(t) for t in texts]
                all_links = []
                for u, t, o in zip(bases, texts, objs):
                    merged = _links_from_objs(o)
                    seen_l = set(merged)
                    for h in page_hrefs(t, u):
                        if h not in seen_l:
                            seen_l.add(h)
                            merged.append(h)
                    all_links.append(merged)
                yield pd.DataFrame({
                    "url": pdf["url"],
                    # ledger carries the frontier key: the popped rows
                    # double as the frontier-delta removal list
                    "url_hash": pdf["url_hash"],
                    "host": pdf["host"],
                    # whole microseconds: float-seconds ns remainders fail
                    # Arrow's safe cast to timestamp[us]
                    "warc_ts": pd.to_datetime(
                        [int(s * 1e6) for s in stamps], unit="us"),
                    "text": texts,
                    "lang": "und",
                    "depth": pdf["depth"],
                    "batch_id": pdf["batch_id"],
                    "rank": pdf["rank"],
                    "n_objects": [len(o) for o in objs],
                    "links": all_links,
                    "bytes": sizes,
                    "blocked": blocked,
                    "retry": retry,
                })
            if writer is not None:
                writer.close()

        # advertised politeness config: run_crawl's floor and hot-host
        # list, from which pop_batch resolves each row's eff_delay, and
        # the resolver run_round fills the round's robots table with
        kernel.default_delay_sec = default_delay_sec
        kernel.hot_hosts = frozenset(hot_hosts or ())
        kernel.robots = resolve_robots
        # fetch-time WARC archival: the pipeline rebinds per round via
        # this attribute (same config, round-specific shard dir)
        kernel.bind_archive = _build
        return kernel

    return _build()

