"""Real HTTP fetch stage (production path for crawl/synth.py's slot).

``make_fetch_extract_kernel`` builds the fused fetch + extract +
link-discovery ``mapInPandas`` kernel. Each task owns a politeness
bucket of URLs (the pipeline repartitions by salted host before calling
it) and fetches sequentially within the task, pacing each host on its
robots ask or the scheduler's ``eff_delay`` — so per-host politeness is
enforced structurally by partitioning, not by a global rate limiter.
Browser-ish headers match the reference CLI (cmd/jsonx/main.go:19-32,
64-87). Tests drive the kernel against a local http.server.
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
# Live crawls honor robots at BOTH layers:
# * scheduler gate: ``make_robots_provider`` fetches/parses robots.txt
#   per distinct frontier host (mapInPandas — the fetch fans out on
#   executors, never a driver loop) and feeds pop_batch's host-level
#   allowed column (can_fetch(UA, "/") — a host whose root is disallowed
#   is never popped).
# * fetch kernel: per-URL ``can_fetch`` check right before the GET (robots
#   rules are per-path; the host-level gate alone would over-crawl hosts
#   that only disallow subtrees). Blocked URLs are never GET'd but emit a
#   zero-byte ``blocked=true`` ledger row so the frontier diff always
#   subtracts them (an all-blocked batch must not stall the crawl).
#
# Parsers are cached per Python worker process keyed by origin, with
# per-entry TTLs (executor Python workers are REUSED across rounds and
# jobs — without expiry a worker would enforce a host's old rules for
# its whole process lifetime) and a bounded entry count (a long-lived
# worker sees millions of distinct hosts at frontier scale; TTLs
# refresh entries but would never shrink the dict). Response handling:
# 200 -> parse; 4xx (robots.txt "unavailable" per RFC 9309 §2.3.1) ->
# allow-all; 5xx ("unreachable") -> complete DISALLOW as the RFC
# prescribes. No HTTP response at all (network/DNS/timeout) ->
# de-facto allow-all — a DELIBERATE DEVIATION from RFC 9309, which
# treats an unreachable robots.txt as complete disallow: connection-
# level failures are overwhelmingly the CLIENT's environment (DNS
# hiccup, route flap, our own timeout), and disallowing on them would
# let a transient local fault blackhole whole hosts. The deviation is
# bounded: the verdict is non-definitive, so it expires on the short
# TTL and is re-asked on the next batch that sees the host. The
# cross-round cache WRITES non-definitive rows into its delta like any
# round output (the round's robots table must still show the temporary
# disallow), but never treats them as cached — the read side filters
# to definitive, in-TTL rows, and compaction drops non-definitive rows
# outright. 5xx and no-response verdicts are both marked
# non-definitive, and the fetch kernel DEFERS (not consumes) URLs a
# non-definitive verdict blocks.
from typing import NamedTuple


class _RobotsEntry(NamedTuple):
    rp: object            # RobotFileParser, or None for allow-all
    definitive: bool      # False: 5xx / no-response, never persisted
    fetched_at: float


_ROBOTS_CACHE: dict[str, _RobotsEntry] = {}
_ROBOTS_CACHE_MAX = 100_000     # per-worker entry bound
_ROBOTS_TTL_SEC = 3600.0        # definitive verdicts (per worker)
_ROBOTS_ERR_TTL_SEC = 120.0     # 5xx / no-response: retry quickly


def _evict_robots_cache(now: float):
    """Keep the per-worker parser cache bounded: drop expired entries
    first, then ALWAYS shrink to 90% of the cap — every trigger must
    free a full 10% headroom, so the O(n log n) pass is paid once per
    ~10k inserts. (Dropping only expired entries would leave the cache
    one insert from full in steady state and re-trigger a full O(n)
    scan on every subsequent miss.)"""
    expired = [k for k, e in _ROBOTS_CACHE.items()
               if now - e.fetched_at >= (_ROBOTS_TTL_SEC if e.definitive
                                         else _ROBOTS_ERR_TTL_SEC)]
    for k in expired:
        del _ROBOTS_CACHE[k]
    target = _ROBOTS_CACHE_MAX - max(_ROBOTS_CACHE_MAX // 10, 1)
    n_drop = len(_ROBOTS_CACHE) - target
    if n_drop > 0:
        oldest = sorted(_ROBOTS_CACHE,
                        key=lambda k: _ROBOTS_CACHE[k].fetched_at)
        for k in oldest[:n_drop]:
            del _ROBOTS_CACHE[k]


def _parse_robots(text: str):
    import urllib.robotparser

    rp = urllib.robotparser.RobotFileParser()
    rp.parse(text.splitlines())
    return rp


def _robots_for(origin: str, timeout_sec: float = 10.0):
    """Fetch+parse ``<origin>/robots.txt`` with per-worker TTL'd
    caching. Returns ``(rp, definitive)``: ``rp`` is a RobotFileParser
    or None for allow-all; ``definitive`` is False for 5xx/unreachable
    verdicts (temporary disallow — callers must not persist them, and
    the fetch kernel defers rather than consumes the URLs)."""
    now = time.time()
    hit = _ROBOTS_CACHE.get(origin)
    if hit is not None:
        ttl = (_ROBOTS_TTL_SEC if hit.definitive
               else _ROBOTS_ERR_TTL_SEC)
        if now - hit.fetched_at < ttl:
            return hit.rp, hit.definitive
    status, body, _err, _furl = _fetch_one(origin + "/robots.txt", timeout_sec,
                                    1 << 20)
    if status == 200:
        out = (_parse_robots(body.decode("utf-8", "replace")), True)
    elif status >= 500:
        # server ERRORED on robots.txt: RFC 9309 "unreachable" ->
        # complete disallow, retried later (non-definitive)
        out = (_parse_robots("User-agent: *\nDisallow: /"), False)
    elif status == 0:
        # no HTTP response at all (network/DNS/timeout): de-facto
        # allow-all — a deliberate deviation from RFC 9309's disallow
        # (see the module comment above: connection-level failures are
        # usually the client's own environment); never persisted —
        # re-asked on the short TTL
        out = (None, False)
    else:  # 4xx: no robots.txt -> everything allowed (definitive)
        out = (None, True)
    if len(_ROBOTS_CACHE) >= _ROBOTS_CACHE_MAX:
        _evict_robots_cache(now)
    _ROBOTS_CACHE[origin] = _RobotsEntry(*out, now)
    return out


def robots_crawl_delay(url: str, user_agent: str,
                       timeout_sec: float = 10.0) -> float | None:
    """Seconds the host asks crawlers to wait between requests:
    ``Crawl-delay`` if present, else derived from ``Request-rate``
    (seconds/requests); None when unspecified or no robots.txt."""
    org = _origin_of(url)
    if org is None:
        return None
    rp, _ = _robots_for(org, timeout_sec)
    if rp is None:
        return None
    d = rp.crawl_delay(user_agent)
    if d is not None:
        return float(d)
    rr = rp.request_rate(user_agent)
    if rr is not None and rr.requests:
        return rr.seconds / rr.requests
    return None


def _origin_of(url: str) -> str | None:
    from urllib.parse import urlsplit

    try:
        p = urlsplit(url)
    except ValueError:
        return None
    if p.scheme not in ("http", "https") or not p.netloc:
        return None
    return f"{p.scheme}://{p.netloc}"


def robots_verdict(url: str, user_agent: str,
                   timeout_sec: float = 10.0) -> tuple[bool, bool]:
    """(allowed, definitive) for ``url``. A non-definitive disallow
    (robots.txt 5xx/unreachable) is TEMPORARY: callers that consume
    URLs (the fused crawl kernel) must defer such URLs for retry, not
    drop them."""
    org = _origin_of(url)
    if org is None:
        return True, True
    rp, definitive = _robots_for(org, timeout_sec)
    allowed = True if rp is None else rp.can_fetch(user_agent, url)
    return allowed, definitive


ROBOTS_SCHEMA = ("host string, allowed boolean, crawl_delay double,"
                 " fetched_at double, definitive boolean")

# cross-round robots cache: fold the append-only delta list into one
# once it exceeds this bound (load cost stays O(1) deltas per round)
ROBOTS_CACHE_COMPACT_DELTAS = 16


def make_robots_provider(user_agent: str | None = None,
                         timeout_sec: float = 10.0,
                         cache_path: str | None = None,
                         ttl_sec: float = 7 * 24 * 3600.0):
    """Build a ``robots_provider`` for ``run_crawl``: (spark, frontier)
    -> DataFrame(host, allowed, crawl_delay). One representative URL per
    host picks the origin (scheme/port live in the URL, not the host
    column); the robots GET + parse runs executor-side over the
    distinct-host set. ``crawl_delay`` is the host's Crawl-delay /
    Request-rate ask (null when unspecified) — the scheduler uses it
    with host_stats.last_fetch_ts to keep a host from being hit at full
    rate in consecutive rounds.

    ``cache_path`` makes the cache CROSS-ROUND: cached hosts are
    anti-joined away so each round only fetches robots.txt for hosts
    discovered since the last round. The cache is APPEND-ONLY DELTAS
    (since r5): each round writes only its newly-resolved hosts as a
    hive-partitioned ``delta=<uuid>`` subdir (tmp-write + atomic
    rename; the tmp name is dot-prefixed so Spark's file listing never
    sees a half-written delta), readers take the newest row per host,
    and the delta list is compacted into one every COMPACT_DELTAS
    rounds — the same discipline as the seen-set deltas, because a
    full-cache rewrite per round would be O(total hosts crawled) I/O
    every round at 10^10-URL scale. Rows expire after ``ttl_sec`` and
    5xx/unreachable verdicts (temporary disallow per RFC 9309) are
    never treated as cached — both are refetched on the next round
    that sees the host, so a long-lived cache can't freeze stale
    allow/deny decisions. One robots GET per host per TTL is the
    production behavior. Without ``cache_path`` the per-round fetch
    set is still only the distinct frontier hosts (executor-side,
    never a driver loop), with a per-worker-process parser cache.
    (Files of the pre-delta single-dir layouts are ignored, not
    cleared: only ``delta=`` dirs are read, so such a cache starts
    empty — one extra robots round, no stale reads.)"""
    ua = user_agent or _HEADERS["User-Agent"]

    def make_kernel(refresh: bool):
        # refresh=True drops the per-worker parser cache entry first:
        # executor Python workers are reused across rounds, so a host
        # the CROSS-ROUND cache declared expired must not be answered
        # from a stale in-process parser
        def kernel(batches: Iterable[pd.DataFrame]
                   ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                # host admission = is the ROOT allowed; per-path rules
                # are enforced in the fetch kernel per URL
                allowed, delays, definitive = [], [], []
                for u in pdf["url"]:
                    org = _origin_of(u)
                    if org is None:
                        allowed.append(True)
                        delays.append(None)
                        definitive.append(True)
                        continue
                    if refresh:
                        _ROBOTS_CACHE.pop(org, None)
                    rp, dfn = _robots_for(org, timeout_sec)
                    allowed.append(rp is None or
                                   rp.can_fetch(ua, org + "/"))
                    delays.append(robots_crawl_delay(org + "/", ua,
                                                     timeout_sec))
                    definitive.append(dfn)
                yield pd.DataFrame({
                    "host": pdf["host"],
                    "allowed": allowed,
                    # nullable Float64: None must reach Spark as NULL,
                    # not NaN (NaN survives coalesce() and would poison
                    # the scheduler's eligibility comparison)
                    "crawl_delay": pd.array(delays, dtype="Float64"),
                    "fetched_at": time.time(),
                    "definitive": definitive,
                })

        return kernel

    def _delta_dirs(path):
        import os

        if not os.path.isdir(path):
            return []
        return sorted(e for e in os.listdir(path)
                      if e.startswith("delta="))

    def _clean_cache_dir(path):
        """WRITE-side housekeeping (r7, was inside ``_load_cache``):
        clear crashed ``.tmp-`` debris.
        Called once per round by the provider — the cache's owning
        writer — so a pure read can never race another reader with a
        delete (two crawls sharing a cache dir would otherwise have
        readers deleting under each other)."""
        import os
        import shutil

        for e in (os.listdir(path) if os.path.isdir(path) else []):
            if e.startswith(".tmp-"):              # crashed half-write
                shutil.rmtree(os.path.join(path, e),
                              ignore_errors=True)

    def _load_cache(spark, path, hosts=None):
        """Newest row per host across all deltas, or None if no
        readable delta layout exists. PURE READ (r7): only the
        ``delta=`` dirs are listed explicitly (basePath keeps the
        hive ``delta`` column), so stray files or foreign tmp dirs
        are simply ignored — cleanup belongs to the write
        path (``_clean_cache_dir``).

        ``hosts`` (DataFrame with a ``host`` column) restricts the
        result with a SEMI-JOIN applied BEFORE the newest-wins window:
        a per-round caller only needs the round's frontier hosts, and
        windowing the whole crawl-lifetime cache would shuffle O(total
        hosts ever crawled) rows every round."""
        import os

        from pyspark.sql import Window, functions as F

        deltas = _delta_dirs(path)
        if not deltas:
            return None
        c = (spark.read.option("basePath", path)
             .parquet(*[os.path.join(path, d) for d in deltas]))
        if not ({"fetched_at", "definitive", "crawl_delay"}
                <= set(c.columns)):
            return None
        if hosts is not None:
            c = c.join(hosts.select("host"), "host", "left_semi")
        w = Window.partitionBy("host").orderBy(
            F.col("fetched_at").desc())
        return (c.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", "delta"))

    def _write_delta(df, path) -> str:
        """Publish ``df`` as a new ``delta=<uuid>`` subdir atomically
        and return the published dir. The tmp dir is dot-prefixed:
        Spark's file listing ignores underscore/dot-prefixed paths, so
        a crash mid-write can never surface a partial delta to
        readers."""
        import os
        import shutil
        import uuid

        os.makedirs(path, exist_ok=True)
        name = uuid.uuid4().hex[:12]
        tmp = os.path.join(path, f".tmp-{name}")
        df.write.mode("overwrite").parquet(tmp)
        # drop Spark's marker so the delta holds only parquet files
        marker = os.path.join(tmp, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
        final = os.path.join(path, f"delta={name}")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)
        return final

    def _maybe_compact(spark, path):
        """Fold all deltas into one once the list exceeds the bound
        (newest row per host; rows older than the TTL and
        non-definitive verdicts are dropped — both would be refetched
        anyway). Crash-safe: the merged delta is published first,
        stale deltas removed after; newest-wins dedup makes leftover
        duplicates harmless."""
        import os
        import shutil

        olds = _delta_dirs(path)
        if len(olds) <= ROBOTS_CACHE_COMPACT_DELTAS:
            return
        merged = _load_cache(spark, path)
        if merged is None:
            return
        from pyspark.sql import functions as F

        merged = merged.filter(
            F.col("definitive") &
            (F.col("fetched_at") >= F.lit(time.time() - ttl_sec)))
        _write_delta(merged, path)
        for e in olds:
            shutil.rmtree(os.path.join(path, e), ignore_errors=True)

    def provider(spark, frontier):
        from pyspark.sql import functions as F

        origins = frontier.groupBy("host").agg(F.min("url").alias("url"))
        if cache_path is None:
            return (origins.mapInPandas(make_kernel(refresh=False),
                                        ROBOTS_SCHEMA)
                    .select("host", "allowed", "crawl_delay"))
        # writer-side housekeeping, then compact BEFORE this round's
        # delta is appended, so the delta written below always
        # survives the round (the read-back scan of it is lazy —
        # pop_batch executes it later)
        _clean_cache_dir(cache_path)
        _maybe_compact(spark, cache_path)
        # ONE cache read per round, semi-joined to the round's hosts
        # BEFORE the newest-wins window: the table this round consults
        # (and the robots table pop_batch ultimately broadcasts) stays
        # O(round hosts) no matter how many hosts the crawl has ever
        # cached
        cache = _load_cache(spark, cache_path, hosts=origins)
        cached = (cache.filter(
            F.col("definitive") &
            (F.col("fetched_at") >= F.lit(time.time() - ttl_sec)))
            if cache is not None else None)
        fresh_hosts = (origins.join(cached, "host", "left_anti")
                       if cached is not None else origins)
        # the cross-round cache is authoritative here: hosts it did not
        # vouch for must be re-GET'd even if a reused worker still holds
        # a parser for them
        fresh = fresh_hosts.mapInPandas(make_kernel(refresh=True),
                                        ROBOTS_SCHEMA)
        # append ONLY the newly-resolved hosts — never rewrite the
        # whole cache (O(total hosts) I/O per round at frontier scale)
        delta_dir = _write_delta(fresh, cache_path)
        # the write above materialized ``fresh``; read the published
        # delta back rather than returning the ``fresh`` plan itself —
        # pop_batch consuming that plan would re-run the robots GETs
        fresh_back = spark.read.parquet(delta_dir).select(
            "host", "allowed", "crawl_delay")
        if cached is None:
            return fresh_back
        # cached ∪ fresh covers exactly the round's hosts (disjoint by
        # the anti-join above) — never the whole lifetime cache
        return (cached.select("host", "allowed", "crawl_delay")
                .unionByName(fresh_back))

    # exposed for tests: the pure read and the writer-side cleanup
    provider._load_cache = _load_cache
    provider._clean_cache_dir = _clean_cache_dir
    return provider


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
                              respect_robots: bool = True,
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

    ``respect_robots`` (default ON) checks each URL against its host's
    robots.txt per-path rules immediately before the GET; disallowed
    URLs are never GET'd but DO emit a zero-byte ledger row with
    ``blocked=true`` — the row keeps the round's processed count
    non-zero, so the frontier diff subtracts them (a batch that is
    100% robots-blocked must not republish the frontier unchanged and
    deterministically re-pop the same blocked URLs every round while
    allowed URLs wait deeper in the frontier). A NON-definitive
    disallow (robots.txt 5xx/unreachable — temporary per RFC 9309)
    additionally sets ``retry=true``: the pipeline returns those URLs
    to the frontier, so a momentary outage defers instead of
    blackholing them. Pair with
    ``run_crawl(robots_provider=make_robots_provider())`` so the
    scheduler's host-level gate uses real robots too.

    Pacing: each URL waits on its host's robots Crawl-delay /
    Request-rate ask (per-path, freshest), else on the row's
    ``eff_delay`` — the delay ``scheduler.pop_batch`` resolved for the
    host (floor, hot-host exemption, automatic hot-host detection; null
    means full rate). The input batch must carry that column. Reading
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
            for pdf in batches:
                if not len(pdf):
                    continue
                texts, stamps, sizes = [], [], []
                blocked, retry, bases = [], [], []
                for url, host, eff in zip(pdf["url"], pdf["host"],
                                          pdf["eff_delay"]):
                    allowed, definitive = (robots_verdict(url, ua,
                                                          timeout_sec)
                                           if respect_robots
                                           else (True, True))
                    if not allowed:
                        body = b""
                        bases.append(url)
                        blocked.append(True)
                        # non-definitive disallow (robots.txt 5xx /
                        # unreachable) is TEMPORARY: mark the row for
                        # retry so the pipeline returns the URL to the
                        # frontier instead of consuming it — a momentary
                        # outage must not blackhole a host's batch
                        retry.append(not definitive)
                    else:
                        # honor the host's Crawl-delay/Request-rate ask —
                        # or the scheduler's eff_delay when robots is
                        # silent — between consecutive requests to it
                        ask = (robots_crawl_delay(url, ua, timeout_sec)
                               if respect_robots else None)
                        if ask is None and not pd.isna(eff):
                            ask = float(eff)
                        pace(host, ask)
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
        # list, from which pop_batch resolves each row's eff_delay
        kernel.default_delay_sec = default_delay_sec
        kernel.hot_hosts = frozenset(hot_hosts or ())
        # fetch-time WARC archival: the pipeline rebinds per round via
        # this attribute (same config, round-specific shard dir)
        kernel.bind_archive = _build
        return kernel

    return _build()

