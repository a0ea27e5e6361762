"""Sitemap ingestion (r8): loc extraction, robots Sitemap directives,
the live-HTTP discovery kernel, and the seed_from_sitemaps maintenance
round (seen-gated, resume-compatible)."""

import gzip
import http.server
import threading

import pandas as pd
import pytest

from jsonextract_spark.crawl import sitemaps as SM

pytestmark = pytest.mark.spark


def test_extract_locs_urlset_and_index():
    doc = b"""<?xml version="1.0"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc> https://ex.com/a </loc><priority>0.5</priority></url>
      <url><loc>https://ex.com/b?x=1&amp;y=2</loc></url>
    </urlset>"""
    pages, children = SM.extract_sitemap_locs(doc)
    assert pages == ["https://ex.com/a", "https://ex.com/b?x=1&y=2"]
    assert children == []

    idx = b"""<sitemapindex>
      <sitemap><loc>https://ex.com/sm1.xml</loc></sitemap>
      <sitemap><loc>https://ex.com/sm2.xml.gz</loc></sitemap>
    </sitemapindex>"""
    pages, children = SM.extract_sitemap_locs(idx)
    assert pages == []
    assert children == ["https://ex.com/sm1.xml",
                        "https://ex.com/sm2.xml.gz"]

    # junk bytes never crash; limit caps output
    SM.extract_sitemap_locs(b"\x00\xff<loc>x" * 50)
    many = b"".join(b"<url><loc>u%d</loc></url>" % i for i in range(99))
    pages, _ = SM.extract_sitemap_locs(many, limit=10)
    assert len(pages) == 10


def test_extract_locs_gzip_and_bomb():
    doc = b"<urlset><url><loc>https://g.example/z</loc></url></urlset>"
    pages, _ = SM.extract_sitemap_locs(gzip.compress(doc))
    assert pages == ["https://g.example/z"]
    bomb = gzip.compress(b"\x00" * (SM.SITEMAP_MAX_BYTES + 100))
    with pytest.raises(ValueError, match="cap"):
        SM.extract_sitemap_locs(bomb)
    with pytest.raises(ValueError, match="gzip"):
        SM.extract_sitemap_locs(b"\x1f\x8bnot really gzip data")


def test_robots_sitemap_directives():
    txt = (b"User-agent: *\nDisallow: /x\n"
           b"SITEMAP: https://ex.com/a.xml\n"
           b"sitemap:https://ex.com/b.xml\n")
    assert SM.sitemap_urls_from_robots(txt, "https://ex.com") == \
        ["https://ex.com/a.xml", "https://ex.com/b.xml"]
    assert SM.sitemap_urls_from_robots(b"", "https://ex.com/") == \
        ["https://ex.com/sitemap.xml"]


def _sitemap_server():
    """robots -> index -> (urlset, gzip urlset)."""
    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            port = self.server.server_port
            base = f"http://127.0.0.1:{port}"
            if self.path == "/robots.txt":
                body = f"Sitemap: {base}/smindex.xml\n".encode()
            elif self.path == "/smindex.xml":
                body = (f"<sitemapindex>"
                        f"<sitemap><loc>{base}/sm1.xml</loc></sitemap>"
                        f"<sitemap><loc>{base}/sm2.xml.gz</loc>"
                        f"</sitemap></sitemapindex>").encode()
            elif self.path == "/sm1.xml":
                body = (f"<urlset>"
                        f"<url><loc>{base}/page/1</loc></url>"
                        f"<url><loc>{base}/page/2</loc></url>"
                        f"</urlset>").encode()
            elif self.path == "/sm2.xml.gz":
                body = gzip.compress(
                    (f"<urlset><url><loc>{base}/page/3</loc></url>"
                     f"</urlset>").encode())
            else:
                body = b"<script>var o = {ok: 1};</script>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_discovery_kernel_live_http():
    srv = _sitemap_server()
    try:
        port = srv.server_port
        kernel = SM.make_sitemap_source()
        pdf = pd.DataFrame({
            "host": [f"127.0.0.1:{port}"],
            "url": [f"http://127.0.0.1:{port}/page/1"]})
        out = pd.concat(list(kernel([pdf])), ignore_index=True)
        urls = sorted(out["url"])
        assert urls == [f"http://127.0.0.1:{port}/page/{i}"
                        for i in (1, 2, 3)]
        assert set(out["host"]) == {f"127.0.0.1:{port}"}
    finally:
        srv.shutdown()


def test_seed_from_sitemaps_round(spark, tmp_path):
    """Maintenance round over a synthetic crawl: new urls enter the
    frontier AND the exact seen set (so later links to them are gated
    away), no ``seen_filter`` is written, known urls are gated away, a
    second run is a no-op, and the crawl resumes cleanly past the
    maintenance round."""
    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.pipeline import run_crawl, run_round
    from jsonextract_spark.crawl.tables import Warehouse
    from jsonextract_spark.functions.urlhash import canonicalize_url, \
        murmur3_64_py

    wdir = str(tmp_path / "wsm")
    run_crawl(spark, wdir, rounds=2, n_seeds=10, host_budget=3,
              batch_size=20)
    wh = Warehouse(wdir)
    before = P.load_frontier(spark, wh, 2).count()
    known = [r["url"] for r in
             P.load_frontier(spark, wh, 2).limit(2).collect()]
    # synth-corpus URL shape (the synthetic fetch kernel parses the
    # trailing page id), ids far outside the crawled neighborhood
    from jsonextract_spark.crawl import synth
    fresh_urls = [synth.url_of(i) for i in (91001, 91002, 91003)]

    def fake_kernel(batches):
        emitted = False
        for pdf in batches:
            if emitted or not len(pdf):
                continue
            emitted = True
            urls = fresh_urls + known
            yield pd.DataFrame({
                "host": [u.split("/")[2] for u in urls], "url": urls})

    n = SM.seed_from_sitemaps(spark, wh, 2, source_kernel=fake_kernel)
    assert n == 3                      # known urls seen-gated away
    after = P.load_frontier(spark, wh, 3)
    assert after.count() == before + 3
    got = {r["url"] for r in after.collect()}
    assert set(fresh_urls) <= got
    seen = {r["url_hash"] for r in P.load_seen(spark, wh, 3).collect()}
    hashes = {murmur3_64_py(canonicalize_url(u)) for u in fresh_urls}
    assert hashes <= seen
    assert not wh.exists("seen_filter", 3)

    # idempotent: everything now seen -> no round consumed
    assert SM.seed_from_sitemaps(spark, wh, 3,
                                 source_kernel=fake_kernel) == 0
    assert wh.last_committed_round() == 3

    # the crawl continues past the maintenance round and the sitemap
    # urls are actually popped (synthetic kernel fetches any url)
    s = run_round(spark, wh, 4, host_budget=3, batch_size=20)
    assert s["fetched"] > 0
    popped = {r["url"] for r in
              P.crawl_order(spark, wdir)
              .filter("batch_id = 4").collect()}
    assert popped & (set(fresh_urls) | set(known) | got)


def test_extract_locs_hostile_linear_and_truncation_classes():
    """Review r8 (reproduced): the non-greedy block regex was
    QUADRATIC on unclosed-tag garbage (~hours at the 8MB cap). The
    linear scanner must stay fast, and a <sitemap> block left
    unclosed by truncation must classify its locs as CHILDREN (index
    entries), never page urls — otherwise the sitemap XML file itself
    gets seeded into the crawl frontier."""
    import time

    hostile = b"<sitemap>" * 20000 + b"<loc>x</loc>"
    t0 = time.time()
    pages, children = SM.extract_sitemap_locs(hostile)
    assert time.time() - t0 < 2.0        # catastrophe-only margin
    assert pages == [] and children == ["x"]

    truncated = (b"<urlset><url><loc>https://ex.com/p</loc></url>"
                 b"</urlset><sitemap><loc>https://ex.com/sm.xml</loc>")
    pages, children = SM.extract_sitemap_locs(truncated)
    assert pages == ["https://ex.com/p"]
    assert children == ["https://ex.com/sm.xml"]
