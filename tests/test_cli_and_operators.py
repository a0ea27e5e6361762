"""jsonx CLI parity, operator sugar, HTTP fetcher, streaming."""

import http.server
import io
import json
import subprocess
import sys
import threading

import pytest
from pyspark.sql.types import StructType, StructField, LongType

from jsonextract_spark import jsonx
from tests import local_http


# -- jsonx CLI ----------------------------------------------------------------

def test_jsonx_file_no_keys(tmp_path):
    p = tmp_path / "doc.js"
    p.write_text('var a = {x: 1}; var b = [1, 2, ]; var c = {"y": "z"}')
    out = io.StringIO()
    jsonx.run_single(str(p), [], None, out=out)
    assert out.getvalue().splitlines() == ['{"x":1}', "[1,2]", '{"y":"z"}']


def test_jsonx_keys_and_limit(tmp_path):
    p = tmp_path / "doc.js"
    p.write_text('{a: 1}{a: 2, b: 3}{a: 4}{c: 5}')
    out = io.StringIO()
    jsonx.run_single(str(p), ["a"], 2, out=out)
    assert out.getvalue().splitlines() == ['{"a":1}', '{"a":2,"b":3}']


def test_jsonx_stdin_subprocess(tmp_path):
    r = subprocess.run(
        [sys.executable, "-m", "jsonextract_spark.jsonx", "-"],
        input="x = {k: 'v'};", capture_output=True, text=True,
        cwd="/root/repo", timeout=120)
    assert r.returncode == 0
    assert r.stdout.splitlines() == ['{"k":"v"}']


def test_jsonx_http_source_local_server(tmp_path):
    # the reference CLI's HTTP source (main.go:64-87) against localhost
    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = b"<script>var d = {served: true};</script>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        out = io.StringIO()
        jsonx.run_single(f"http://127.0.0.1:{srv.server_port}/x", [], None,
                         out=out)
        assert out.getvalue().strip() == '{"served":true}'
    finally:
        srv.shutdown()


# -- operator sugar -----------------------------------------------------------

@pytest.mark.spark
def test_operators_roundtrip(spark):
    from jsonextract_spark import operators as ops

    df = spark.createDataFrame(
        [("u1", "{a: 1}{a: 2, b: 3}{c: 4}"),
         ("u2", "nothing here"),
         ("u3", "{b: 9, a: 8}")],
        "url string, text string")
    ex = ops.explode_objects(ops.extract(df), id_cols=["url"])

    first_a = ops.first_match_per_doc(ex, ["a"], k=1)
    got = {r["url"]: r["obj"] for r in first_a.collect()}
    assert got == {"u1": '{"a":1}', "u3": '{"b":9,"a":8}'}

    missing = ops.required_missing(ex, ["a"])
    assert [r["url"] for r in missing.collect()] == []  # u2 emitted nothing

    both = ops.first_match_per_doc(ex, ["a", "b"], k=5)
    assert sorted(r["obj"] for r in both.collect()) == \
        ['{"a":2,"b":3}', '{"b":9,"a":8}']


@pytest.mark.spark
def test_unmarshal_first(spark):
    from jsonextract_spark import operators as ops

    # Unmarshal-until-verified (objects.go:15-30): first value whose
    # decoded struct passes the predicate; decode failures are ignored.
    df = spark.createDataFrame(
        [("u1", '{n: 1}{n: "not-an-int"}{n: 5}{n: 9}')],
        "url string, text string")
    ex = ops.explode_objects(ops.extract(df), id_cols=["url"])
    schema = StructType([StructField("n", LongType())])
    out = ops.unmarshal_first(ex, schema,
                              lambda d: d["n"] > 3)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["obj"] == '{"n":5}'


# -- HTTP fetch stage ---------------------------------------------------------

@pytest.mark.spark
def test_http_fetch_stage(spark):
    """The fused HTTP kernel as a Spark stage over several tasks: every
    page is fetched and extracted, a 404 is consumed, and an
    unreachable URL is marked for retry."""
    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)
    from jsonextract_spark.crawl.synth import FETCH_EXTRACT_SCHEMA

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/missing":
                self.send_response(404)
                self.end_headers()
                return
            pid = int(self.path.rsplit("/", 1)[1])
            body = f"<script>var p = {{pid: {pid}}};</script>".encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = local_http.serve(H)
    port = srv.server_port
    try:
        pages = [f"http://127.0.0.1:{port}/p/{i}" for i in range(12)]
        missing = f"http://127.0.0.1:{port}/missing"
        unreachable = "http://127.0.0.1:1/unreachable"
        urls = pages + [missing, unreachable]
        df = spark.createDataFrame(
            [(u, k, u.split("/")[2], 0, 1, k, None, None, True)
             for k, u in enumerate(urls)],
            "url string, url_hash long, host string, depth int,"
            " batch_id int, rank long, eff_delay double,"
            " robots_txt string, definitive boolean")
        fetched = df.repartition(4, "url").mapInPandas(
            make_fetch_extract_kernel(timeout_sec=5),
            FETCH_EXTRACT_SCHEMA)
        rows = {r["url"]: r for r in fetched.collect()}
        assert set(rows) == set(urls)
        assert all(rows[u]["n_objects"] == 1 and rows[u]["bytes"] > 0
                   and not rows[u]["retry"] for u in pages)
        assert rows[missing]["bytes"] == 0 and not rows[missing]["retry"]
        assert rows[unreachable]["retry"]
        assert not any(r["blocked"] for r in rows.values())
    finally:
        srv.shutdown()


# -- streaming ----------------------------------------------------------------

@pytest.mark.spark
def test_stream_extract(spark, tmp_path):
    from jsonextract_spark.streaming import stream_extract

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(3):
        with open(in_dir / f"part-{i}.json", "w") as f:
            for j in range(5):
                f.write(json.dumps(
                    {"url": f"u{i}-{j}",
                     "text": f"var x = {{id: {i * 5 + j}}};"}) + "\n")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = stream_extract(spark, str(in_dir), out_dir, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 15
    # exactly-once on restart: no new files -> no new rows
    q2 = stream_extract(spark, str(in_dir), out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 15
    # late-arriving file picked up incrementally
    with open(in_dir / "part-9.json", "w") as f:
        f.write(json.dumps({"url": "u9", "text": "{late: true}"}) + "\n")
    q3 = stream_extract(spark, str(in_dir), out_dir, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 16


@pytest.mark.spark
def test_stream_sessionize_stateful_restart(spark, tmp_path):
    """applyInPandasWithState sessionizer: per-user state lives in the
    state store and survives a query restart via the checkpoint, so
    trigger 2 continues counting from trigger 1's last event times."""
    from jsonextract_spark.streaming import stream_sessionize

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")

    def write_batch(name, rows):
        with open(in_dir / name, "w") as f:
            for u, ts, e in rows:
                f.write(json.dumps(
                    {"user_id": u, "ts": ts, "event_id": e}) + "\n")

    def run():
        # foreachBatch: the one update-capable sink that also supports
        # checkpoint recovery (memory sink refuses to restart)
        rows = []
        events = (spark.readStream
                  .schema("user_id long, ts timestamp, event_id long")
                  .json(str(in_dir)))
        q = (stream_sessionize(events, gap_sec=600).writeStream
             .foreachBatch(lambda df, _epoch: rows.extend(df.collect()))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(120)
        return {r["user_id"]: (r["n_events"], r["n_sessions"])
                for r in rows}

    write_batch("b1.json", [(1, "2026-01-01 00:00:00", 1),
                            (1, "2026-01-01 00:05:00", 2),
                            (2, "2026-01-01 00:00:00", 3)])
    assert run() == {1: (2, 1), 2: (1, 1)}

    # restart with new data: >10 min gap opens a new session for user 1;
    # user 2's event continues their open session (state restored)
    write_batch("b2.json", [(1, "2026-01-01 00:30:00", 4),
                            (1, "2026-01-01 00:31:00", 5),
                            (2, "2026-01-01 00:05:00", 6)])
    assert run() == {1: (4, 2), 2: (2, 1)}


@pytest.mark.spark
def test_stream_event_counts(spark, tmp_path):
    from jsonextract_spark.streaming import stream_event_counts

    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    with open(in_dir / "ev.json", "w") as f:
        for m, et in [(1, "a"), (2, "a"), (11, "a"), (12, "b"), (3, "b")]:
            f.write(json.dumps(
                {"ts": f"2024-01-01 00:{m:02d}:00", "event_type": et})
                + "\n")
    stream = (spark.readStream.format("json")
              .schema("ts timestamp, event_type string")
              .load(str(in_dir)))
    agg = stream_event_counts(stream, window="10 minutes")
    # complete mode: append would only emit windows the watermark has
    # passed, and this tiny fixture never advances it that far
    q = (agg.writeStream.format("memory").queryName("evc")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {(r["win_start"].minute, r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM evc").collect()}
    assert rows[(0, "a")] == 2 and rows[(0, "b")] == 1
    assert rows[(10, "a")] == 1 and rows[(10, "b")] == 1
