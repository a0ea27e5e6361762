"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed arguments: the same seed
gives byte-identical pages, so outputs can be checked against stored or
in-process reference values.

* ``script_pages`` — the ``extract-scripts`` pages table: script-heavy
  HTML covering the JS notations the extraction lexer handles, with
  sizes spread from a few KB to a few hundred KB, plus a fixed number of
  truncated pages whose unclosed brackets drive the kernel's quadratic
  rescan (bounded by the UDF layer's ``work_budget``).
* ``revisit_page`` / ``make_revisit_kernel`` — the ``crawl-revisit``
  link graph and its fetch kernel: a bounded, nav-heavy site graph in
  which most links discovered by the later rounds are already seen.
  The kernel only supplies page bytes; extraction and link discovery
  are the package's own functions.
"""

from __future__ import annotations

import math
import random

# -- extract-scripts ---------------------------------------------------------

N_SCRIPT_PAGES = 64
N_HOSTILE_PAGES = 2
MIN_PAGE = 3 << 10
MAX_PAGE = 300 << 10
HOSTILE_SIZE = (5 << 10, 7 << 10)
# keys of the key-filter query (first_match_per_doc)
MATCH_KEYS = ["videoId", "title"]

_WORDS = ("alpha beta gamma delta video title channel playlist item "
          "render config state data page user stream value").split()


def _ident(rng: random.Random) -> str:
    return rng.choice(_WORDS) + rng.choice(("", "Id", "Name", "_x", "$1"))


def _js_scalar(rng: random.Random) -> str:
    k = rng.randrange(22)
    n = rng.randrange(1, 100000)
    return (
        f"{n}", f"-{n}", f"+{n}", f"0x{n:x}", f"0X{n:X}", f"0o{n:o}",
        f"0b{n % 512:b}", f"{n}n", f"{n}.", f".{n}", f"{n}e{n % 9}",
        "undefined", "NaN", "-NaN", "true", "false", "null",
        f"'single \"{rng.choice(_WORDS)}\" \\'q\\''",
        f'"double {rng.choice(_WORDS)} \\u00e9\\n"',
        f"`template {rng.choice(_WORDS)}\nline`",
        f"/{rng.choice(_WORDS)}+[a-z]*\\//gi",
        f'"café ☃ {n}"',
    )[k]


def _js_value(rng: random.Random, depth: int) -> str:
    r = rng.random()
    if depth >= 4 or r < 0.55:
        return _js_scalar(rng)
    if r < 0.8:
        return _js_object(rng, depth + 1)
    items = [_js_value(rng, depth + 1) for _ in range(rng.randrange(1, 6))]
    trail = "," if rng.random() < 0.3 else ""
    return "[" + ", ".join(items) + trail + "]"


def _js_object(rng: random.Random, depth: int = 0) -> str:
    parts = []
    used = set()
    for _ in range(rng.randrange(1, 7)):
        key = _ident(rng)
        if key in used:
            continue
        used.add(key)
        q = rng.randrange(3)
        kt = key if q == 0 else (f"'{key}'" if q == 1 else f'"{key}"')
        parts.append(f"{kt}: {_js_value(rng, depth)}")
    sep = rng.choice((", ", ",\n  ", ", /* c */ ", ", // c\n "))
    trail = "," if rng.random() < 0.3 else ""
    return "{" + sep.join(parts) + trail + "}"


def _video_object(rng: random.Random, i: int) -> str:
    vid = "".join(rng.choice("abcdefghijkLMNOP0123456789_-")
                  for _ in range(11))
    return (f"{{videoId: '{vid}', title: \"Video {i} "
            f"{rng.choice(_WORDS)}\", lengthSeconds: 0x{i:x}, "
            f"views: {rng.randrange(10**6)}n,}}")


def _script_block(rng: random.Random) -> str:
    k = rng.randrange(6)
    if k == 0:
        body = f"var {_ident(rng)} = {_js_object(rng)};"
    elif k == 1:
        body = (f"window.__{rng.choice(_WORDS).upper()}__ = "
                f"[{_js_object(rng)}, {_js_object(rng)}];")
    elif k == 2:
        body = (f"ytInitialData = {{contents: [{_video_object(rng, 1)}, "
                f"{_video_object(rng, 2)}], {_ident(rng)}: "
                f"{_js_value(rng, 1)}}};")
    elif k == 3:
        # decoys the scanner must reject: arithmetic, nested '{{'
        body = (f"var x = {{n: {rng.randrange(9)}+{rng.randrange(9)}}}; "
                "if (a) {{b}} else { c(); }")
    elif k == 4:
        body = (f"JSON.parse('{{\"{rng.choice(_WORDS)}\": "
                f"{rng.randrange(1000)}}}'); render({_js_object(rng)});")
    else:
        body = f"const cfg = {_js_object(rng)}; // {rng.choice(_WORDS)}"
    if k == 5:
        return ('<script type="application/ld+json">{"@type": "WebPage", '
                f'"name": "{rng.choice(_WORDS)}", "position": '
                f'{rng.randrange(100)}}}</script>\n<script>{body}</script>\n')
    return f"<script>\n{body}\n</script>\n"


def script_page(rng: random.Random, i: int, size: int) -> bytes:
    parts = [f"<!doctype html><html><head><title>Page {i}</title>"
             "</head><body>\n"]
    n = len(parts[0])
    while n < size:
        blk = (_script_block(rng) if rng.random() < 0.85 else
               "<p>" + " ".join(rng.choice(_WORDS) for _ in range(40))
               + "</p>\n")
        parts.append(blk)
        n += len(blk.encode("utf-8"))
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def hostile_page(rng: random.Random, i: int, size: int) -> bytes:
    """A page truncated mid-script: every opening bracket of the cut-off
    payload is unclosed, so each one is scanned to end of input."""
    head = (f"<!doctype html><html><head><title>Page {i}</title></head>"
            "<body><script>var state = ").encode()
    body = bytearray()
    while len(head) + len(body) < size:
        body += f"[{{id: {rng.randrange(1000)}, v: [".encode()
    return head + bytes(body[:size - len(head)])


def is_hostile(html: bytes) -> bool:
    return b"<body><script>var state = [" in html[:120]


def script_page_sizes(rng: random.Random, n: int) -> list[int]:
    """Log-spaced sizes with seeded jitter and order: every seed gets the
    same size spread (and so about the same total bytes)."""
    lo, hi = math.log(MIN_PAGE), math.log(MAX_PAGE)
    sizes = [int(math.exp(lo + (hi - lo) * (k + rng.random()) / n))
             for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def script_pages(seed: int) -> list[tuple[str, bytes]]:
    """(url, html) rows of the extract-scripts pages table."""
    rng = random.Random(f"extract-scripts:{seed}")
    sizes = script_page_sizes(rng, N_SCRIPT_PAGES)
    hostile_at = set(rng.sample(range(N_SCRIPT_PAGES + N_HOSTILE_PAGES),
                                N_HOSTILE_PAGES))
    rows = []
    for i in range(N_SCRIPT_PAGES + N_HOSTILE_PAGES):
        url = f"https://scripts{i % 13}.test/page/{seed}/{i}"
        if i in hostile_at:
            html = hostile_page(rng, i, rng.randrange(*HOSTILE_SIZE))
        else:
            html = script_page(rng, i, sizes.pop())
        rows.append((url, html))
    return rows


def hostile_probe_pages(n: int = 4) -> list[bytes]:
    """Fixed truncated-page sample for ``kernel.hostile_ms_per_page`` on
    every workload (the same bytes whatever the seed)."""
    rng = random.Random("hostile-probe")
    return [hostile_page(rng, i, rng.randrange(*HOSTILE_SIZE))
            for i in range(n)]


# -- crawl-revisit -----------------------------------------------------------

REVISIT_HOSTS = 16
REVISIT_PAGES_PER_HOST = 250
REVISIT_NAV = 12          # nav pages per host, linked from every page
REVISIT_CROSS_NAV = 4     # nav links into other hosts
REVISIT_CONTENT = 6       # seeded content links (same or other host)
REVISIT_SEEDS = 700
REVISIT_EPOCH = 1_650_000_000


def revisit_url(h: int, j: int) -> str:
    return f"https://site{h}.test/p/{j}"


def revisit_seeds(graph_seed: int) -> list[str]:
    """Every host's home page plus a seeded sample of other pages, so the
    first round already pops a full batch."""
    rng = random.Random(f"revisit-seeds:{graph_seed}")
    pages = rng.sample(range(REVISIT_HOSTS * (REVISIT_PAGES_PER_HOST - 1)),
                       REVISIT_SEEDS - REVISIT_HOSTS)
    return ([revisit_url(h, 0) for h in range(REVISIT_HOSTS)]
            + [revisit_url(p % REVISIT_HOSTS, 1 + p // REVISIT_HOSTS)
               for p in pages])


def _parse_revisit(url: str) -> tuple[int, int]:
    host, _, j = url[len("https://site"):].partition(".test/p/")
    return int(host), int(j)


def revisit_links(graph_seed: int, h: int, j: int) -> tuple[list[str],
                                                             list[str]]:
    """(nav links, content links) of page j on host h."""
    rng = random.Random(f"revisit:{graph_seed}:{h}:{j}")
    nav = [revisit_url(h, k) for k in range(REVISIT_NAV)]
    for _ in range(REVISIT_CROSS_NAV):
        nav.append(revisit_url(rng.randrange(REVISIT_HOSTS),
                               rng.randrange(REVISIT_NAV)))
    content = []
    for _ in range(REVISIT_CONTENT):
        oh = h if rng.random() < 0.7 else rng.randrange(REVISIT_HOSTS)
        content.append(revisit_url(
            oh, rng.randrange(REVISIT_NAV, REVISIT_PAGES_PER_HOST)))
    return nav, content


def revisit_page(graph_seed: int, url: str) -> str:
    h, j = _parse_revisit(url)
    nav, content = revisit_links(graph_seed, h, j)
    navjs = ", ".join(f"'{u}'" for u in nav)
    items = ", ".join(f"{{href: \"{u}\", rank: {k}}}"
                      for k, u in enumerate(content))
    return (
        "<!doctype html><html><head>"
        f"<title>site {h} page {j}</title>"
        '<script type="application/ld+json">'
        f'{{"@type": "WebPage", "site": {h}, "page": {j}}}'
        "</script></head><body>"
        f"<script>\nvar nav = {{menu: 'main', links: [{navjs}],}};\n"
        f"var related = [{items}];\n"
        f"var stats = {{views: 0x{(h * 7919 + j) % 65536:x}, "
        f"score: {j}., ok: true, }};\n</script>"
        f"<p>{'text%d ' % (j % 31) * 20}</p>"
        "</body></html>"
    )


def make_revisit_kernel(graph_seed: int):
    """Fused fetch + extract + link-discovery kernel for crawl-revisit,
    with the package's one-row-per-URL and ``url_hash`` passthrough
    contract (``synth.FETCH_EXTRACT_SCHEMA``). It advertises a zero
    politeness floor, like the synthetic corpus, so the crawl is a
    deterministic function of its inputs."""
    def kernel(batches):
        import pandas as pd

        from jsonextract_spark.functions.udfs import (_budget,
                                                      _links_from_objs)
        from jsonextract_spark.kernel.scanner import extract_objects_str

        for pdf in batches:
            texts = [revisit_page(graph_seed, u) for u in pdf["url"]]
            objs = [extract_objects_str(t, work_budget=_budget(len(t)))
                    for t in texts]
            ids = [_parse_revisit(u) for u in pdf["url"]]
            yield pd.DataFrame({
                "url": pdf["url"],
                "url_hash": pdf["url_hash"],
                "host": pdf["host"],
                "warc_ts": pd.to_datetime(
                    [REVISIT_EPOCH + h * 1000 + j for h, j in ids],
                    unit="s"),
                "text": texts,
                "lang": "en",
                "depth": pdf["depth"],
                "batch_id": pdf["batch_id"],
                "rank": pdf["rank"],
                "n_objects": [len(o) for o in objs],
                "links": [_links_from_objs(o) for o in objs],
                "bytes": [len(t) for t in texts],
                "blocked": False,
                "retry": False,
            })

    kernel.default_delay_sec = 0.0
    kernel.hot_hosts = None
    return kernel
