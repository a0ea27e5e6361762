"""WARC source/sink (r8): distributed shard write, member-walk read,
roundtrip equality, and the hostile-bytes error contract."""

import gzip
from datetime import datetime

import pytest

from jsonextract_spark.crawl import warc as W
from tests import local_http

pytestmark = pytest.mark.spark


def _pages(spark, n=50):
    from pyspark.sql import functions as F
    return (spark.range(n)
            .select(F.concat(F.lit("https://ex.com/p/"), "id")
                    .alias("url"),
                    (F.lit("2026-08-18 01:02:03.000004").cast(
                        "timestamp")
                     + F.make_interval(secs=F.col("id").cast("double"))
                     ).alias("warc_ts"),
                    F.encode(F.concat(F.lit("<html>page "), "id",
                                      F.lit("</html>")), "utf-8")
                    .alias("html")))


def test_warc_roundtrip(spark, tmp_path):
    pages = _pages(spark).repartition(4).cache()
    pages.count()
    out = str(tmp_path / "warc")
    manifest = W.write_warc(pages, out).collect()
    assert sum(m["records"] for m in manifest) == 50
    assert 1 <= len(manifest) <= 4
    assert all(m["shard"].endswith(".warc.gz") for m in manifest)

    back = W.read_warc(spark, out + "/*.warc.gz")
    want = {(r["url"], r["warc_ts"], bytes(r["html"]))
            for r in pages.collect()}
    got = {(r["url"], r["warc_ts"], bytes(r["payload"]))
           for r in back.collect()}
    assert got == want                 # urls, µs timestamps, bytes
    pages.unpersist()


def test_warc_member_format_interops():
    """Each record is an independent gzip member — `zcat`-able and
    concatenable, the Common-Crawl convention. Non-response records
    are skipped, not errors."""
    rec = W.warc_record("https://a.example/x",
                        datetime(2026, 8, 18, 1, 2, 3, 4), b"BODY")
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Length: 2\r\n\r\nok\r\n\r\n")
    stream = gzip.compress(info) + gzip.compress(rec)
    members = list(W._iter_members(stream))
    assert len(members) == 2
    assert W.parse_warc_member(members[0]) is None
    url, date, body = W.parse_warc_member(members[1])
    assert url == "https://a.example/x"
    assert date == "2026-08-18T01:02:03.000004Z"
    assert body == b"BODY"
    # plain gzip.decompress sees the concatenation too (cat-ability)
    assert gzip.decompress(stream) == info + rec


def test_warc_hostile_bytes():
    rec = W.warc_record("https://a.example/x",
                        datetime(2026, 1, 1), b"B")
    g = gzip.compress(rec)
    with pytest.raises(ValueError, match="gzip"):
        list(W._iter_members(g[:10] + b"\x00" * 4))
    with pytest.raises(ValueError):
        list(W._iter_members(g[:-6]))      # truncated member
    with pytest.raises(ValueError, match="header"):
        W.parse_warc_member(b"not a warc record at all")
    with pytest.raises(ValueError, match="Content-Length"):
        W.parse_warc_member(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx")
    with pytest.raises(ValueError, match="truncated record"):
        W.parse_warc_member(b"WARC/1.0\r\nWARC-Type: response\r\n"
                            b"Content-Length: 99\r\n\r\nshort")
    # inflation bomb: one member declaring far more than the cap
    old = W.WARC_MAX_RECORD_BYTES
    W.WARC_MAX_RECORD_BYTES = 1000
    try:
        bomb = gzip.compress(b"\x00" * 5000)
        with pytest.raises(ValueError, match="cap"):
            list(W._iter_members(bomb))
    finally:
        W.WARC_MAX_RECORD_BYTES = old


def test_warc_foreign_date_formats(spark, tmp_path):
    """Common-Crawl (and WARC/1.0 generally) stamps second-precision
    dates ('...T12:00:00Z'); our writer emits microseconds. The reader
    must accept both — and fail the file loudly on a missing or
    garbage date, like every other malformed member."""
    d = tmp_path / "foreign"
    d.mkdir()
    body = b"<html>cc</html>"
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://cc.example/a\r\n"
           b"WARC-Date: 2017-04-12T12:00:00Z\r\n"
           b"Content-Length: " + str(len(body)).encode()
           + b"\r\n\r\n" + body + b"\r\n\r\n")
    (d / "cc.warc.gz").write_bytes(gzip.compress(rec))
    rows = W.read_warc(spark, str(d) + "/*.warc.gz").collect()
    assert len(rows) == 1
    assert rows[0]["warc_ts"] == datetime(2017, 4, 12, 12, 0, 0)
    assert bytes(rows[0]["payload"]) == body

    bad = rec.replace(b"WARC-Date: 2017-04-12T12:00:00Z",
                      b"WARC-Date: yesterday-ish")
    (d / "cc.warc.gz").write_bytes(gzip.compress(bad))
    with pytest.raises(Exception, match="WARC-Date"):
        W.read_warc(spark, str(d) + "/*.warc.gz").collect()
    nodate = rec.replace(b"WARC-Date: 2017-04-12T12:00:00Z\r\n", b"")
    (d / "cc.warc.gz").write_bytes(gzip.compress(nodate))
    with pytest.raises(Exception, match="WARC-Date"):
        W.read_warc(spark, str(d) + "/*.warc.gz").collect()


def test_fetch_time_archival_synth(spark, tmp_path):
    """run_crawl(archive_warc=...) tees every fetched body into
    per-round WARC shards INSIDE the fetch pass (no second fetch, no
    extra action): shards hold exactly the ledger's fetched rows with
    byte-identical payloads, and the ledger records a truthful shard
    manifest per round."""
    import os

    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wh")
    adir = str(tmp_path / "warc")
    run_crawl(spark, wdir, rounds=2, n_seeds=10, host_budget=3,
              batch_size=20, archive_warc=adir)
    wh = Warehouse(wdir)
    led = {r["round"]: r for r in wh.ledger()["rounds"]}
    for rn in (1, 2):
        rdir = os.path.join(adir, f"round={rn}")
        shards = [f for f in os.listdir(rdir)
                  if f.endswith(".warc.gz")]
        assert not [f for f in os.listdir(rdir) if ".tmp-" in f]
        assert led[rn]["warc_shards"] == len(shards) > 0
        assert led[rn]["warc_bytes"] == sum(
            os.path.getsize(os.path.join(rdir, f)) for f in shards)
        back = W.read_warc(spark, rdir + "/*.warc.gz").collect()
        want = {(r["url"], r["warc_ts"]) for r in
                wh.load(spark, "fetched", rn)
                .filter("NOT blocked").select("url", "warc_ts")
                .collect()}
        got = {(r["url"], r["warc_ts"]): bytes(r["payload"])
               for r in back}
        assert set(got) == want           # urls + µs-exact timestamps
        for (url, _ts), payload in got.items():
            assert payload == synth.page_text(
                synth.page_id_from_url(url)).encode()


def test_fetch_time_archival_live_http(spark, tmp_path):
    """The verdict-r8 'Done' bar: on a LIVE-HTTP crawl, reading the
    round shards back byte-equals what the kernel actually fetched
    from the server, with the ledger's exact timestamps."""
    import http.server
    import os

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    def body_of(i: int, port: int) -> bytes:
        kids = ", ".join(
            f"'http://127.0.0.1:{port}/p/{i * 2 + j}'"
            for j in (1, 2)) if i < 8 else ""
        return (f"<script>var cfg = {{id: {i}, "
                f"links: [{kids}]}};</script>").encode()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/robots.txt":   # none: definitive allow-all
                self.send_response(404)
                self.end_headers()
                return
            body = body_of(int(self.path.rsplit("/", 1)[-1]),
                           self.server.server_port)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = local_http.serve(H)
    try:
        port = srv.server_port
        wdir = str(tmp_path / "whttp")
        adir = str(tmp_path / "warc")
        seeds = [f"http://127.0.0.1:{port}/p/1",
                 f"http://127.0.0.1:{port}/p/2"]
        run_crawl(spark, wdir, rounds=2, seeds=seeds, host_budget=100,
                  batch_size=50, archive_warc=adir,
                  fetch_kernel=make_fetch_extract_kernel(
                      default_delay_sec=0.0))
        wh = Warehouse(wdir)
        led = {r["round"]: r for r in wh.ledger()["rounds"]}
        for rn in (1, 2):
            rdir = os.path.join(adir, f"round={rn}")
            back = W.read_warc(spark, rdir + "/*.warc.gz").collect()
            assert led[rn]["warc_shards"] > 0
            ledger_ts = {r["url"]: r["warc_ts"] for r in
                         wh.load(spark, "fetched", rn)
                         .filter("NOT blocked")
                         .select("url", "warc_ts").collect()}
            assert {r["url"] for r in back} == set(ledger_ts)
            for r in back:
                i = int(r["url"].rsplit("/", 1)[-1])
                assert bytes(r["payload"]) == body_of(i, port)
                assert r["warc_ts"] == ledger_ts[r["url"]]
    finally:
        srv.shutdown()


def test_warc_from_crawl_ledger(spark, tmp_path):
    """The archival path a Common-Crawl-style operation runs after
    each round: the fetched ledger supplies (url, warc_ts); the page
    bytes come from the fetch source (the ledger stores extraction
    outputs, not raw html — for the synthetic corpus the fetch is a
    pure function of the url, so the archive kernel recomputes it the
    same way the fetch kernel did)."""
    import pandas as pd

    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "whc")
    run_crawl(spark, wdir, rounds=1, n_seeds=10, host_budget=3,
              batch_size=20)
    wh = Warehouse(wdir)
    fetched = (wh.load(spark, "fetched", 1)
               .filter("NOT blocked").select("url", "warc_ts"))

    def with_html(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame({
                "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                "html": [synth.page_text(
                    synth.page_id_from_url(u)).encode()
                    for u in pdf["url"]]})

    pages = fetched.mapInPandas(
        with_html, "url string, warc_ts timestamp, html binary")
    n = fetched.count()
    assert n > 0
    out = str(tmp_path / "warc_out")
    manifest = W.write_warc(pages, out).collect()
    assert sum(m["records"] for m in manifest) == n
    back = W.read_warc(spark, out + "/*.warc.gz")
    assert back.count() == n
    row = back.limit(1).collect()[0]
    assert bytes(row["payload"]) == synth.page_text(
        synth.page_id_from_url(row["url"])).encode()
