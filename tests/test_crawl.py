"""Crawl pipeline correctness: seen-set exactness, skew-proof top-k,
reproducible ordering across parallelism, and checkpoint resume."""

import subprocess
import sys

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonextract_spark.crawl import synth

pytestmark = pytest.mark.spark


# -- seen-set ----------------------------------------------------------------

def test_merge_filters_equals_build_of_union(spark):
    """The kept Bloom helpers stay consistent (nothing in the package
    calls them; the benchmark's tracer wraps them by name): OR-merging
    B's keys into ``build_filters(A)`` gives, bucket for bucket, the
    bitset and key count of ``build_filters(A ∪ B)`` — covering buckets
    only A fills (passed through), buckets only B fills (built from the
    delta alone) and buckets both fill."""
    from jsonextract_spark.crawl import seen as sm

    rng = np.random.default_rng(7)
    draws = rng.integers(-2**62, 2**62, size=6000)
    # A only fills the lower half of the buckets
    a = [int(h) for h in draws[:4000]
         if h % sm.N_BUCKETS < sm.N_BUCKETS // 2]
    b = [int(h) for h in draws[4000:]]
    assert not set(a) & set(b)

    def frame(hashes):
        return spark.createDataFrame([(h,) for h in hashes],
                                     "url_hash long")

    def by_bucket(filters):
        return {r["bucket"]: (bytes(r["bits"]), r["m"], r["k"], r["n"])
                for r in filters.collect()}

    merged = by_bucket(sm.merge_filters(sm.build_filters(frame(a)),
                                        frame(b)))
    built = by_bucket(sm.build_filters(frame(a + b)))
    assert merged == built
    assert len(built) == sm.N_BUCKETS


def test_gate_new_urls_matches_python_oracle(spark):
    """gate_new_urls over candidates that repeat a url_hash equals a
    Python recomputation from the input rows: for every hash not in
    ``seen``, the min url, min host and min depth, taken per column.
    Covers duplicated hashes with differing url/host/depth, a planted
    collision whose min url and min host come from DIFFERENT rows, and
    seen hashes among the candidates."""
    from jsonextract_spark.crawl import seen as sm

    rng = np.random.default_rng(11)
    seen_hashes = rng.integers(-2**62, 2**62, size=4000).tolist()
    cand_new = rng.integers(-2**62, 2**62, size=2000).tolist()
    rows = []
    for i, h in enumerate(seen_hashes[:500] + cand_new):
        # two copies per hash with different url/host/depth so the
        # independent mins matter
        rows.append((int(h), f"u{i:06d}b", f"h{i % 7}x", 3))
        rows.append((int(h), f"u{i:06d}a", f"h{i % 7}w", 2 + (i % 3)))
    collision = 2**62 + 1          # outside the random draws' range
    rows += [(collision, "zz-b", "ha", 9), (collision, "zz-a", "hz", 4)]
    cand = spark.createDataFrame(
        rows, "url_hash long, url string, host string, depth int")
    seen_df = spark.createDataFrame([(int(h),) for h in seen_hashes],
                                    "url_hash long")

    seen_set = set(seen_hashes)
    mins: dict = {}
    for h, url, host, depth in rows:
        if h in seen_set:
            continue
        m = mins.get(h)
        mins[h] = ((url, host, depth) if m is None else
                   (min(m[0], url), min(m[1], host), min(m[2], depth)))
    want = {(h, *m) for h, m in mins.items()}
    assert (collision, "zz-a", "ha", 4) in want   # row-mixed mins
    assert len(want) == len(set(cand_new)) + 1

    def rowset(df):
        return {(r["url_hash"], r["url"], r["host"], r["depth"])
                for r in df.collect()}

    assert rowset(sm.gate_new_urls(cand, seen_df)) == want


# -- scheduler ----------------------------------------------------------------

def test_salted_topk_equals_naive_window(spark):
    from pyspark.sql import Window
    from jsonextract_spark.crawl.scheduler import salted_top_k_per_group

    rows = [(f"h{i % 7}", float(i % 13), f"url{i:05d}") for i in range(2000)]
    df = spark.createDataFrame(rows, "host string, priority double, url string")
    order = [F.col("priority").desc(), F.col("url").asc()]

    fast = salted_top_k_per_group(df, ["host"], order, k=9, salt_on="url")
    naive = (df.withColumn(
        "rank_in_group",
        F.row_number().over(Window.partitionBy("host").orderBy(*order)))
        .filter("rank_in_group <= 9"))

    a = sorted(map(tuple, fast.select("host", "priority", "url",
                                      "rank_in_group").collect()))
    b = sorted(map(tuple, naive.collect()))
    assert a == b


def test_topk_engine_path_under_host_skew(spark):
    """The r7 pop re-layering (north_star: 'salted repartitioning to
    defeat host skew'): the primary path is the plain rank-filter
    window BECAUSE Catalyst rewrites it to WindowGroupLimit — a
    map-side partial top-k per host below the exchange, i.e. the
    engine-native salted two-phase pop. Pins, on a frontier where ONE
    host owns half the rows: (1) the plan really carries the map-side
    WindowGroupLimit below the Exchange (if the rewrite ever stops
    firing, the hot host silently becomes a single-task straggler);
    (2) result equality engine vs the explicit two-phase fallback;
    (3) k past the optimizer threshold selects the fallback; (4) the
    engine path is never materially slower than the fallback (generous
    margin — this guards catastrophe, bench_pop_skew publishes the
    real numbers)."""
    import statistics
    import time

    from jsonextract_spark.crawl.scheduler import (
        _two_phase_salted_top_k, salted_top_k_per_group)

    n = 200_000
    df = (spark.range(n)
          .withColumn("host",
                      F.when(F.col("id") % 2 == 0, F.lit("hot.example"))
                      .otherwise(F.concat(F.lit("h"),
                                          F.pmod(F.col("id"), 500))))
          .withColumn("url", F.concat(F.lit("u"), F.col("id")))
          .withColumn("priority", (F.xxhash64("id") % 1000) / 1000.0)
          .cache())
    df.count()
    order = [F.col("priority").desc(), F.col("url").asc()]

    engine = salted_top_k_per_group(df, ["host"], order, k=8)
    plan = engine._jdf.queryExecution().executedPlan().toString()
    below_exchange = plan.split("Exchange", 1)[-1]
    assert "WindowGroupLimit" in below_exchange, plan

    cols = ["host", "url", "rank_in_group"]
    fast = sorted(map(tuple, engine.select(*cols).collect()))
    two_phase = sorted(map(tuple, _two_phase_salted_top_k(
        df, ["host"], order, k=8).select(*cols).collect()))
    assert fast == two_phase

    # k above the rewrite threshold must select the explicit fallback
    # (the bare window would silently re-open the straggler there)
    wgl = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(wgl)
    spark.conf.set(wgl, "4")
    try:
        fb = salted_top_k_per_group(df, ["host"], order, k=8)
        fb_plan = fb._jdf.queryExecution().executedPlan().toString()
        assert "pmod(xxhash64" in fb_plan, fb_plan   # the salt key
    finally:
        spark.conf.set(wgl, old)

    def t_engine():
        t0 = time.time()
        salted_top_k_per_group(df, ["host"], order, k=8).count()
        return time.time() - t0

    def t_two_phase():
        t0 = time.time()
        _two_phase_salted_top_k(df, ["host"], order, k=8).count()
        return time.time() - t0

    t_engine(); t_two_phase()                  # warm both plans
    pairs = [(t_engine(), t_two_phase()) for _ in range(3)]
    df.unpersist()
    e = statistics.median(p[0] for p in pairs)
    tp = statistics.median(p[1] for p in pairs)
    # catastrophe guard only (the real numbers are bench_pop_skew's
    # job and the plan pin above is the non-flaky regression guard) —
    # the margin is deliberately huge so a noisy CI host can't flake
    # a correctness suite on wall-clock
    assert e <= tp * 4 + 2.0, (pairs, "engine top-k catastrophically "
                               "slower than the two-phase fallback")


def test_pop_respects_robots_and_budget(spark):
    from jsonextract_spark.crawl.pipeline import make_robots
    from jsonextract_spark.crawl.scheduler import pop_batch, priority_of

    urls = [synth.url_of(i) for i in range(0, 4000, 7)]
    from jsonextract_spark.functions.urlhash import murmur3_64_py, url_host
    rows = [(u, murmur3_64_py(u), url_host(u), 0) for u in urls]
    frontier = (spark.createDataFrame(
        rows, "url string, url_hash long, host string, depth int")
        .withColumn("priority", priority_of(F.col("depth"))))
    robots = make_robots(spark)

    batch = pop_batch(frontier, robots, host_budget=3, batch_size=10_000)
    per_host = batch.groupBy("host").count().collect()
    assert all(r["count"] <= 3 for r in per_host)
    blocked = {f"host{h}.example" for h in range(synth.HOSTS)
               if synth.robots_disallowed_host(h)}
    assert not any(r["host"] in blocked for r in per_host)
    # rank is dense and unique
    ranks = [r["rank"] for r in batch.select("rank").collect()]
    assert sorted(ranks) == list(range(1, len(ranks) + 1))


# -- end-to-end determinism ----------------------------------------------------

def _run_crawl_cli(warehouse: str, rounds: int, master: str,
                   resume: bool = False):
    cmd = [sys.executable, "-m", "jsonextract_spark.crawl.pipeline",
           "--rounds", str(rounds), "--warehouse", warehouse,
           "--seeds", "12", "--batch-size", "64", "--master", master]
    if resume:
        cmd.append("--resume")
    subprocess.run(cmd, check=True, capture_output=True, text=True,
                   cwd="/root/repo", timeout=600)


def _ledger(warehouse: str):
    return duckdb.sql(
        f"SELECT batch_id, rank, url FROM '{warehouse}/fetched/*/*.parquet' "
        "ORDER BY batch_id, rank").fetchall()


def _seen_set(warehouse: str, round_no: int):
    # seen is stored as append-only per-round deltas: each round's
    # frontier_delta is_new=1 partition (written in the same job as
    # the frontier update; round 0's seeds live in the initial full
    # frontier, same layout — the frontier* glob covers both)
    return set(r[0] for r in duckdb.sql(
        f"SELECT url_hash FROM "
        f"'{warehouse}/frontier*/*/is_new=1/*.parquet'"
    ).fetchall())


def test_empty_partitioned_save_stays_readable(spark, tmp_path):
    """A drained frontier (zero rows) written with partitionBy must
    still load — Spark's empty partitioned write emits no schema file,
    so the Warehouse falls back to a plain write."""
    from jsonextract_spark.crawl.tables import Warehouse

    wh = Warehouse(str(tmp_path / "w"))
    empty = spark.createDataFrame(
        [], "url string, url_hash long, depth int, priority double,"
            " is_new int")
    wh.save(empty, "frontier", 7, partition_by="is_new")
    back = wh.load(spark, "frontier", 7)
    assert back.count() == 0
    assert "url_hash" in back.columns


def test_url_identity_fused_single_crossing(spark):
    """url_identity_udf must (a) agree exactly with the scalar
    canonicalize/murmur3/host functions and (b) cost ONE
    ArrowEvalPython node in the executed plan — the link gate runs it
    on every candidate URL every round, and three chained scalar UDFs
    would be three Python round trips."""
    from jsonextract_spark.crawl.pipeline import _with_url_identity
    from jsonextract_spark.functions.urlhash import (
        canonicalize_url, murmur3_64_py, url_host)

    raw = ["https://host1.example/p/7",            # fast path
           "HTTP://Host2.Example/a/../b",          # slow path, rewrites
           "https://host3.example:443/x",          # default port strip
           "ftp://nope/x", "garbage",              # dropped
           "https://host4.example/q?x=1"]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    out = _with_url_identity(df)
    got = {r["url"]: (r["url_hash"], r["host"]) for r in out.collect()}
    want = {}
    for u in raw:
        c = canonicalize_url(u)
        if c is not None:
            want[c] = (murmur3_64_py(c), url_host(c))
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_crawl_with_explicit_empty_seed_list(spark, tmp_path):
    """Regression (ADVICE r2): seeds=[] is an advertised empty crawl,
    not a crash — init must survive the missing is_new=1 partition and
    subsequent rounds must commit as empty rounds."""
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "w_empty")
    stats = run_crawl(spark, wdir, rounds=2, seeds=[])
    assert [s["fetched"] for s in stats] == [0, 0]
    wh = Warehouse(wdir)
    assert wh.last_committed_round() == 2


def test_spark_jobs_do_not_accumulate_across_crawls(spark, tmp_path):
    """Each round counts only its own jobs: running the same crawl again
    in the same session reports the same per-round ``spark_jobs``
    instead of adding the earlier crawl's jobs for that round number."""
    from jsonextract_spark.crawl.pipeline import run_crawl

    kw = dict(rounds=2, n_seeds=10, host_budget=3, batch_size=20)
    first = run_crawl(spark, str(tmp_path / "a"), **kw)
    second = run_crawl(spark, str(tmp_path / "b"), **kw)
    jobs = [[s["spark_jobs"] for s in crawl] for crawl in (first, second)]
    assert all(n > 0 for n in jobs[0]), jobs
    assert jobs[1] == jobs[0], jobs


@pytest.fixture(scope="module")
def one_round_crawl(spark, tmp_path_factory):
    """A committed one-round crawl, shared read-only by the tests
    below (copy it before mutating)."""
    from jsonextract_spark.crawl.pipeline import run_crawl

    wdir = str(tmp_path_factory.mktemp("one_round") / "wh")
    stats = run_crawl(spark, wdir, rounds=1, n_seeds=10, host_budget=3,
                      batch_size=20)
    assert stats[0]["fetched"] > 0
    return wdir


def _round_secs(wdir, round_no):
    import pyarrow.parquet as pq

    from jsonextract_spark.crawl.tables import Warehouse

    t = pq.read_table(Warehouse(wdir)._path("metrics", round_no))
    return {k: v for k, v in zip(t.column("key").to_pylist(),
                                 t.column("value").to_pylist())
            if k.startswith("sec_")}


def test_round_sec_metrics_are_never_zero(one_round_crawl):
    """A non-empty round off the compaction cadence records exactly the
    three ``sec_*`` spans, and each measures a real span of the round
    (an always-0.0 key would be a stamp of two adjacent clock reads,
    not a measurement)."""
    secs = _round_secs(one_round_crawl, 1)
    assert set(secs) == {"sec_pop_fetch_extract", "sec_driver_plan",
                         "sec_frontier_seen"}, secs
    assert all(v > 0.0 for v in secs.values()), secs


@pytest.mark.parametrize("table", ["seen", "host_stats"])
def test_resume_rejects_unsupported_layout(spark, one_round_crawl,
                                           tmp_path, table):
    """A warehouse with a legacy single ``seen`` or ``host_stats``
    table fails the resume loudly instead of having that state ignored
    silently."""
    import os
    import shutil

    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wh")
    shutil.copytree(one_round_crawl, wdir)
    os.makedirs(Warehouse(wdir)._path(table, 1))
    with pytest.raises(ValueError, match="unsupported warehouse layout"):
        run_crawl(spark, wdir, rounds=2, resume=True, n_seeds=10,
                  host_budget=3, batch_size=20)


def test_resume_ignores_old_seen_filter(spark, one_round_crawl,
                                        tmp_path):
    """A warehouse written by earlier code — ``seen_filter`` dirs and a
    round-0 ``filter_kind`` of another codec in the ledger — resumes,
    and its crawl ledger equals an uninterrupted crawl's: the exact
    gate never reads the filter rows, whatever their bytes."""
    import json
    import shutil

    from jsonextract_spark.crawl.pipeline import crawl_order, run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    kw = dict(n_seeds=10, host_budget=3, batch_size=20)
    wdir = str(tmp_path / "wh")
    shutil.copytree(one_round_crawl, wdir)
    wh = Warehouse(wdir)
    for r in (0, 1):
        # all-ones bitsets: a Bloom prune reading them would flag
        # every candidate as maybe-seen
        wh.save(spark.createDataFrame(
            [(b, b"\xff" * 64, 512, 7, 1) for b in range(4)],
            "bucket int, bits binary, m int, k int, n long"),
            "seen_filter", r)
    led = wh.ledger()
    led["rounds"][0]["filter_kind"] = "cuckoo"
    with open(wh._ledger_path, "w") as f:
        json.dump(led, f)
    stats = run_crawl(spark, wdir, rounds=3, resume=True, **kw)
    assert [s["round"] for s in stats] == [2, 3]
    assert not wh.exists("seen_filter", 2)
    assert not wh.exists("seen_filter", 3)

    full = str(tmp_path / "full")
    run_crawl(spark, full, rounds=3, **kw)
    got = crawl_order(spark, wdir).collect()
    assert got == crawl_order(spark, full).collect()
    assert {r["batch_id"] for r in got} == {1, 2, 3}


def test_resume_accepts_ledger_without_batch(spark, one_round_crawl,
                                             tmp_path):
    """The ledger's per-round ``batch`` count is written but no longer
    read: a warehouse whose ledger lacks it resumes and runs its next
    round."""
    import json
    import shutil

    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wh")
    shutil.copytree(one_round_crawl, wdir)
    wh = Warehouse(wdir)
    led = wh.ledger()
    for r in led["rounds"]:
        r.pop("batch", None)
    with open(wh._ledger_path, "w") as f:
        json.dump(led, f)
    stats = run_crawl(spark, wdir, rounds=2, resume=True, n_seeds=10,
                      host_budget=3, batch_size=20)
    assert [s["round"] for s in stats] == [2]
    assert wh.last_committed_round() == 2
    assert "batch" in wh.ledger()["rounds"][-1]


def test_empty_round_carries_state_without_writes(spark, tmp_path):
    """An empty round writes NO frontier state at all (the delta-layout
    loaders read a round RANGE and skip rounds without a delta) —
    frontier view and seen set are unchanged across the empty round,
    with no double-counted seen delta and no per-round copy of the
    full frontier (the pre-r6 carry)."""
    import os

    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "w_er")
    run_crawl(spark, wdir, rounds=1, n_seeds=10, host_budget=3,
              batch_size=20)
    wh = Warehouse(wdir)
    front_before = {r["url_hash"]
                    for r in P.load_frontier(spark, wh, 1).collect()}
    seen_before = sorted(r["url_hash"]
                         for r in P.load_seen(spark, wh, 1).collect())

    def deny_all(spark_, frontier):
        return (frontier.select("host").distinct()
                .withColumn("allowed", F.lit(False)))

    run_crawl(spark, wdir, rounds=2, resume=True, n_seeds=10,
              host_budget=3, batch_size=20, robots_provider=deny_all)
    led = {r["round"]: r for r in wh.ledger()["rounds"]}
    assert led[2].get("empty")
    # no frontier state written for the empty round
    assert not wh.exists("frontier", 2)
    assert not wh.exists("frontier_delta", 2)
    assert not os.path.exists(P._seen_delta_path(wh, 2))
    # view and seen set unchanged, nothing double-counted
    front_after = {r["url_hash"]
                   for r in P.load_frontier(spark, wh, 2).collect()}
    seen_after = sorted(r["url_hash"]
                        for r in P.load_seen(spark, wh, 2).collect())
    assert front_after == front_before
    assert seen_after == seen_before


def test_crawl_over_live_http(spark, tmp_path):
    """The pluggable fetch kernel crawls a real HTTP server end-to-end:
    fetch -> extract -> link discovery -> seen gate across rounds, with
    the same pipeline code as the synthetic corpus."""
    import http.server
    import threading

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)
    from jsonextract_spark.crawl.pipeline import run_crawl

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            i = int(self.path.rsplit("/", 1)[-1])
            port = self.server.server_port
            kids = ", ".join(
                f"'http://127.0.0.1:{port}/p/{i * 2 + j}'"
                for j in (1, 2)) if i < 8 else ""
            body = (f"<script>var cfg = {{id: {i}, "
                    f"links: [{kids}]}};</script>").encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_port
        seeds = [f"http://127.0.0.1:{port}/p/1",
                 f"http://127.0.0.1:{port}/p/2"]
        stats = run_crawl(spark, str(tmp_path / "whttp"), rounds=2,
                          seeds=seeds, host_budget=100, batch_size=50,
                          fetch_kernel=make_fetch_extract_kernel())
        assert stats[0]["fetched"] == 2
        assert stats[0]["objects"] == 2      # one JS object per page
        assert stats[0]["new"] == 4          # links of pages 1 and 2
        assert stats[1]["fetched"] == 4      # the discovered children
    finally:
        srv.shutdown()


def test_live_robots_gate(spark, tmp_path):
    """Live crawls honor real robots.txt at both layers: the scheduler's
    host gate (make_robots_provider: root disallowed -> host never
    popped) and the fetch kernel's per-path check (subtree disallowed ->
    the URL is never GET'd and yields no fetched row)."""
    import http.server
    import threading

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_robots_provider)
    from jsonextract_spark.crawl.pipeline import run_crawl

    def serve(robots_body: str):
        seen_paths = []

        class H(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                seen_paths.append(self.path)
                if self.path == "/robots.txt":
                    body = robots_body.encode()
                elif self.path.startswith(("/p/", "/q/")):
                    i = int(self.path.rsplit("/", 1)[-1])
                    body = (f"<script>var cfg = {{id: {i}, links: []}};"
                            f"</script>").encode()
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv, seen_paths

    # per-path rules: /p/ disallowed, /q/ allowed -> host admitted (root
    # allowed) but only the /q/ seed is fetched; /p/1 never GET'd
    srv, paths = serve("User-agent: *\nDisallow: /p/\n")
    try:
        port = srv.server_port
        stats = run_crawl(
            spark, str(tmp_path / "w_rb_path"), rounds=1,
            seeds=[f"http://127.0.0.1:{port}/p/1",
                   f"http://127.0.0.1:{port}/q/1"],
            host_budget=10, batch_size=10,
            fetch_kernel=make_fetch_extract_kernel(),
            robots_provider=make_robots_provider())
        assert stats[0]["fetched"] == 1
        assert f"/q/1" in paths and "/p/1" not in paths
    finally:
        srv.shutdown()

    # root disallowed -> the host gate drops the host before popping:
    # nothing is fetched and no page URL is ever requested
    srv2, paths2 = serve("User-agent: *\nDisallow: /\n")
    try:
        port2 = srv2.server_port
        stats2 = run_crawl(
            spark, str(tmp_path / "w_rb_host"), rounds=1,
            seeds=[f"http://127.0.0.1:{port2}/p/1"],
            host_budget=10, batch_size=10,
            fetch_kernel=make_fetch_extract_kernel(),
            robots_provider=make_robots_provider())
        assert stats2[0]["fetched"] == 0
        assert all(p == "/robots.txt" for p in paths2)
    finally:
        srv2.shutdown()


def _serve(handler_body):
    """Tiny threaded HTTP server; handler_body(path) -> bytes | None
    (None = 404). Returns (server, port, request_log)."""
    import http.server
    import threading

    log = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            log.append(self.path)
            body = handler_body(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            if body == b"__5xx__":
                self.send_response(503)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_port, log


def test_robots_5xx_is_temporary_disallow():
    """RFC 9309: a 5xx robots.txt means 'unreachable' -> complete
    disallow, but the verdict is non-definitive (never persisted by the
    cross-round cache) so a transient outage can't freeze the decision.
    4xx stays allow-all and definitive."""
    from jsonextract_spark.crawl import fetch_http

    healthy = []

    def body(p):
        if p == "/robots.txt":
            return b"User-agent: *\nAllow: /\n" if healthy \
                else b"__5xx__"
        return b"hi"

    srv, port, _log = _serve(body)
    try:
        url = f"http://127.0.0.1:{port}/page"
        assert fetch_http.robots_verdict(url, "UA") == (False, False)
        rp, definitive, _ts = fetch_http._ROBOTS_CACHE[
            f"http://127.0.0.1:{port}"]
        assert rp is not None and definitive is False
        # the broken verdict is cached only for the SHORT error TTL:
        # once the server heals and the TTL lapses, the next check
        # refetches and allows (per-worker caches must not pin a
        # transient outage)
        healthy.append(True)
        assert fetch_http.robots_allowed(url, "UA") is False  # cached
        old = fetch_http._ROBOTS_ERR_TTL_SEC
        fetch_http._ROBOTS_ERR_TTL_SEC = 0.0
        try:
            assert fetch_http.robots_verdict(url, "UA") == (True, True)
        finally:
            fetch_http._ROBOTS_ERR_TTL_SEC = old
    finally:
        srv.shutdown()

    srv2, port2, _ = _serve(lambda p: None if p == "/robots.txt"
                            else b"hi")
    try:
        url2 = f"http://127.0.0.1:{port2}/page"
        assert fetch_http.robots_allowed(url2, "UA") is True
        rp2, definitive2, _ts2 = fetch_http._ROBOTS_CACHE[
            f"http://127.0.0.1:{port2}"]
        assert rp2 is None and definitive2 is True
    finally:
        srv2.shutdown()


def test_fused_kernel_defers_on_robots_5xx():
    """The fused kernel must not consume URLs blocked by a robots 5xx:
    rows come back blocked=True AND retry=True, and the page itself is
    never GET'd (a momentary robots outage must not blackhole the
    batch)."""
    import pandas as pd

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)

    srv, port, log = _serve(
        lambda p: b"__5xx__" if p == "/robots.txt" else b"hi")
    try:
        pdf = pd.DataFrame({
            "url": [f"http://127.0.0.1:{port}/p/{i}" for i in (1, 2)],
            "url_hash": [11, 22],
            "host": ["127.0.0.1"] * 2, "depth": [0, 0],
            "batch_id": [1, 1], "rank": [1, 2]})
        kernel = make_fetch_extract_kernel(timeout_sec=5)
        out = pd.concat(list(kernel([pdf])))
        assert list(out["blocked"]) == [True, True]
        assert list(out["retry"]) == [True, True]
        assert list(out["bytes"]) == [0, 0]
        assert all(p == "/robots.txt" for p in log)
    finally:
        srv.shutdown()


def test_deferred_urls_return_to_frontier(spark, tmp_path):
    """Pipeline plumbing for retry rows: a URL the kernel defers
    (blocked+retry) goes BACK into the frontier and is fetched in a
    later round — deferral consumes nothing. Uses a deterministic fake
    kernel that defers u2 only in round 1."""
    import pandas as pd

    from jsonextract_spark.crawl.pipeline import run_crawl

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            defer = (pdf["batch_id"] == 1) & \
                pdf["url"].str.contains("/u2")
            n = len(pdf)
            yield pd.DataFrame({
                "url": pdf["url"], "url_hash": pdf["url_hash"],
                "host": pdf["host"],
                "warc_ts": pd.to_datetime([1_700_000_000_000_000] * n,
                                          unit="us"),
                "text": ["" if d else "<script>var c = {id: 1,"
                         " links: []};</script>" for d in defer],
                "lang": "und", "depth": pdf["depth"],
                "batch_id": pdf["batch_id"], "rank": pdf["rank"],
                "n_objects": [0 if d else 1 for d in defer],
                "links": [[] for _ in range(n)],
                "bytes": [0 if d else 10 for d in defer],
                "blocked": list(defer), "retry": list(defer),
            })

    stats = run_crawl(spark, str(tmp_path / "w_defer"), rounds=2,
                      seeds=["http://h.example/u1",
                             "http://h.example/u2"],
                      host_budget=5, batch_size=5, fetch_kernel=kernel)
    assert stats[0]["fetched"] == 1 and stats[0]["deferred"] == 1
    assert stats[0]["blocked"] == 0
    # round 2 re-pops the deferred URL and fetches it
    assert stats[1]["fetched"] == 1 and stats[1]["deferred"] == 0


def test_deferral_is_bounded_by_attempts(spark, tmp_path):
    """A URL that keeps failing transiently is retried at most
    MAX_DEFERS times, then consumed — a permanently-down host can't
    park its URLs in the frontier forever."""
    import pandas as pd

    from jsonextract_spark.crawl.pipeline import MAX_DEFERS, run_crawl

    def kernel(batches):  # u2 ALWAYS defers; u1 fetches fine
        for pdf in batches:
            if not len(pdf):
                continue
            defer = pdf["url"].str.contains("/u2")
            n = len(pdf)
            yield pd.DataFrame({
                "url": pdf["url"], "url_hash": pdf["url_hash"],
                "host": pdf["host"],
                "warc_ts": pd.to_datetime([1_700_000_000_000_000] * n,
                                          unit="us"),
                "text": ["" if d else "<script>var c = {id: 1,"
                         " links: []};</script>" for d in defer],
                "lang": "und", "depth": pdf["depth"],
                "batch_id": pdf["batch_id"], "rank": pdf["rank"],
                "n_objects": [0 if d else 1 for d in defer],
                "links": [[] for _ in range(n)],
                "bytes": [0 if d else 10 for d in defer],
                "blocked": [False] * n, "retry": list(defer),
            })

    rounds = MAX_DEFERS + 3
    stats = run_crawl(spark, str(tmp_path / "w_defercap"),
                      rounds=rounds,
                      seeds=["http://h.example/u1",
                             "http://h.example/u2"],
                      host_budget=5, batch_size=5, fetch_kernel=kernel)
    # u2 is popped 1 + MAX_DEFERS times, RE-FRONTIERED after the first
    # MAX_DEFERS pops (deferred counts actual re-frontiers, so the
    # final-attempt pop that consumes it reports deferred=0 while its
    # ledger row is still retry-marked), then never popped again: the
    # frontier is drained
    deferred_rounds = [s["deferred"] for s in stats]
    retry_rounds = [s["retry_marked"] for s in stats]
    assert deferred_rounds[:MAX_DEFERS] == [1] * MAX_DEFERS
    assert all(d == 0 for d in deferred_rounds[MAX_DEFERS:])
    assert retry_rounds[:MAX_DEFERS + 1] == [1] * (MAX_DEFERS + 1)
    assert all(r == 0 for r in retry_rounds[MAX_DEFERS + 1:])
    assert stats[0]["fetched"] == 1            # u1, round 1
    assert all(s["fetched"] == 0 for s in stats[1:])


def test_fused_kernel_retries_transient_fetch_failures():
    """A page GET that returns 5xx (or no response) yields a
    retry=True, blocked=False row — the pipeline will re-frontier it;
    a 404 is a definitive answer and is consumed normally."""
    import pandas as pd

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)

    def body(p):
        if p == "/boom/1":
            return b"__5xx__"
        if p == "/ok/1":
            return b"<script>var c = {id: 1, links: []};</script>"
        return None                      # /gone/1 -> 404

    srv, port, _log = _serve(body)
    try:
        pdf = pd.DataFrame({
            "url": [f"http://127.0.0.1:{port}/{x}/1"
                    for x in ("boom", "ok", "gone")],
            "url_hash": [11, 22, 33],
            "host": ["127.0.0.1"] * 3, "depth": [0] * 3,
            "batch_id": [1] * 3, "rank": [1, 2, 3]})
        kernel = make_fetch_extract_kernel(timeout_sec=5)
        out = pd.concat(list(kernel([pdf]))).reset_index(drop=True)
        assert list(out["blocked"]) == [False, False, False]
        assert list(out["retry"]) == [True, False, False]
        assert out["n_objects"][1] == 1
    finally:
        srv.shutdown()


def test_robots_crawl_delay_parsed():
    """Crawl-delay and Request-rate both surface as a per-host delay
    ask in seconds (Crawl-delay wins when both are present)."""
    from jsonextract_spark.crawl import fetch_http

    srv, port, _ = _serve(
        lambda p: b"User-agent: *\nCrawl-delay: 2\n"
        if p == "/robots.txt" else b"hi")
    try:
        assert fetch_http.robots_crawl_delay(
            f"http://127.0.0.1:{port}/x", "UA") == 2.0
    finally:
        srv.shutdown()

    srv2, port2, _ = _serve(
        lambda p: b"User-agent: *\nRequest-rate: 1/5\n"
        if p == "/robots.txt" else b"hi")
    try:
        assert fetch_http.robots_crawl_delay(
            f"http://127.0.0.1:{port2}/x", "UA") == 5.0
    finally:
        srv2.shutdown()

    srv3, port3, _ = _serve(
        lambda p: b"User-agent: *\nDisallow: /private/\n"
        if p == "/robots.txt" else b"hi")
    try:
        assert fetch_http.robots_crawl_delay(
            f"http://127.0.0.1:{port3}/x", "UA") is None
    finally:
        srv3.shutdown()


def test_pop_batch_crawl_delay_gates_hosts_across_rounds(spark):
    """A host whose last fetch is younger than its robots crawl_delay
    is ineligible for the round (its frontier rows stay pending); once
    the delay has elapsed it pops again. Hosts with no delay ask are
    never gated."""
    from jsonextract_spark.crawl.scheduler import pop_batch

    frontier = spark.createDataFrame(
        [("http://a.example/1", 1, "a.example", 0, 1.0),
         ("http://b.example/1", 2, "b.example", 0, 1.0)],
        "url string, url_hash long, host string, depth int,"
        " priority double")
    robots = spark.createDataFrame(
        [("a.example", True, 10.0), ("b.example", True, None)],
        "host string, allowed boolean, crawl_delay double")
    host_stats = spark.createDataFrame(
        [("a.example", 1.0, 100.0), ("b.example", 1.0, 100.0)],
        "host string, crawled double, last_fetch_ts double")

    def hosts(now_ts, hs=host_stats):
        return {r["host"] for r in pop_batch(
            frontier, robots, 5, 10, host_stats=hs,
            now_ts=now_ts).collect()}

    assert hosts(105.0) == {"b.example"}       # 5s ago < 10s ask
    assert hosts(110.0) == {"a.example", "b.example"}
    # per-round pop budget: a delay-asking host's pop count is capped
    # by the politeness time budget (k <= 1 + floor(budget/delay)); a
    # no-ask host keeps the full host_budget
    many = spark.createDataFrame(
        [(f"http://a.example/{i}", 10 + i, "a.example", 0, 1.0)
         for i in range(8)]
        + [(f"http://b.example/{i}", 100 + i, "b.example", 0, 1.0)
           for i in range(8)],
        "url string, url_hash long, host string, depth int,"
        " priority double")
    from jsonextract_spark.crawl.scheduler import pop_batch as pb
    got = pb(many, robots, host_budget=8, batch_size=100,
             politeness_budget_sec=20.0).collect()
    per = {}
    for r in got:
        per[r["host"]] = per.get(r["host"], 0) + 1
    assert per == {"a.example": 3, "b.example": 8}  # 1+floor(20/10)=3
    # first round (no host_stats yet): nothing is gated
    assert {r["host"] for r in pop_batch(
        frontier, robots, 5, 10, now_ts=105.0).collect()} \
        == {"a.example", "b.example"}
    # unknown host in stats (never fetched): not gated
    hs2 = spark.createDataFrame(
        [("a.example", 1.0, None)],
        "host string, crawled double, last_fetch_ts double")
    assert hosts(105.0, hs2) == {"a.example", "b.example"}


def test_pop_batch_plan_broadcasts_side_tables(spark, tmp_path):
    """The pop's robots and host_stats joins must stay broadcast hash
    joins (both sides are per-host tables, tiny next to a 10^10-row
    frontier) — a sort-merge join here would shuffle the whole frontier
    twice per round. The crawl-delay eligibility filter rides those
    joins and must not change the join strategy. ``pop_batch`` adds no
    hints: side tables Spark has sizes for (parquet-backed, as the
    pipeline's host_stats and the live robots provider are) plan as
    broadcasts up front, and side tables built from a local list (no
    size statistics) end as broadcasts in the final adaptive plan."""
    from jsonextract_spark.crawl.scheduler import pop_batch

    def parquet_backed(df, name):
        path = str(tmp_path / name)
        df.write.parquet(path)
        return spark.read.parquet(path)

    frontier = spark.createDataFrame(
        [(f"http://h{i % 7}.example/{i}", i, f"h{i % 7}.example",
          0, 1.0) for i in range(100)],
        "url string, url_hash long, host string, depth int,"
        " priority double")
    robots = spark.createDataFrame(
        [(f"h{i}.example", True, None) for i in range(7)],
        "host string, allowed boolean, crawl_delay double")
    host_stats = spark.createDataFrame(
        [(f"h{i}.example", 2.0, 50.0) for i in range(7)],
        "host string, crawled double, last_fetch_ts double")
    batch = pop_batch(frontier, parquet_backed(robots, "robots"), 5, 50,
                      host_stats=parquet_backed(host_stats, "host_stats"),
                      now_ts=100.0)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert len(batch.collect()) > 0

    batch = pop_batch(frontier, robots, 5, 50, host_stats=host_stats,
                      now_ts=100.0)
    assert len(batch.collect()) > 0
    final = (batch._jdf.queryExecution().executedPlan()
             .finalPhysicalPlan().toString())
    assert final.count("BroadcastHashJoin") >= 2, final
    assert "SortMergeJoin" not in final, final


def test_fetch_kernel_paces_same_host_by_crawl_delay():
    """Within a task, consecutive requests to a host with
    ``Crawl-delay: 1`` are spaced >= 1s apart (3 URLs -> >= 2s total),
    enforced by the kernel's per-host pacer."""
    import time

    import pandas as pd

    from jsonextract_spark.crawl.fetch_http import make_fetcher

    srv, port, log = _serve(
        lambda p: b"User-agent: *\nCrawl-delay: 1\n"
        if p == "/robots.txt" else b"<html>ok</html>")
    try:
        urls = [f"http://127.0.0.1:{port}/x/{i}" for i in range(3)]
        fetch = make_fetcher(timeout_sec=5)
        t0 = time.time()
        out = pd.concat(list(fetch([pd.DataFrame({"url": urls})])))
        dt = time.time() - t0
        assert list(out["status"]) == [200, 200, 200]
        assert dt >= 2.0, f"crawl-delay not honored: {dt:.2f}s for 3"
    finally:
        srv.shutdown()


def test_robots_cache_ttl_expires_entries(spark, tmp_path):
    """With ttl_sec=0 every round refetches robots.txt for hosts it
    sees (cache rows expire immediately); the persisted cache carries
    the TTL bookkeeping columns."""
    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_robots_provider)
    from jsonextract_spark.crawl.pipeline import run_crawl

    def body(p):
        if p == "/robots.txt":
            return b"User-agent: *\nDisallow: /private/\n"
        i = int(p.rsplit("/", 1)[-1])
        return (f"<script>var cfg = {{id: {i},"
                f" links: []}};</script>").encode()

    srv, port, log = _serve(body)
    try:
        cache = str(tmp_path / "robots_cache_ttl")
        wh = str(tmp_path / "w_ttl")
        provider = make_robots_provider(cache_path=cache, ttl_sec=0.0)
        kern = make_fetch_extract_kernel(respect_robots=False)
        seeds = [f"http://127.0.0.1:{port}/p/1",
                 f"http://127.0.0.1:{port}/p/2"]
        run_crawl(spark, wh, rounds=1, seeds=seeds, host_budget=1,
                  batch_size=1, fetch_kernel=kern,
                  robots_provider=provider)
        cached1 = spark.read.parquet(cache)
        assert {"host", "allowed", "crawl_delay", "fetched_at",
                "definitive"} <= set(cached1.columns)
        t1 = cached1.agg({"fetched_at": "max"}).collect()[0][0]
        assert log.count("/robots.txt") >= 1
        run_crawl(spark, wh, rounds=2, resume=True, seeds=seeds,
                  host_budget=1, batch_size=1, fetch_kernel=kern,
                  robots_provider=provider)
        # the ttl=0 row expired, so round 2 re-resolved the host: its
        # cache row carries a NEW fetched_at stamp. (Asserting on the
        # server-side GET count is flaky — a transiently failed GET
        # still re-stamps the row, as a non-definitive verdict.)
        t2 = (spark.read.parquet(cache)
              .agg({"fetched_at": "max"}).collect()[0][0])
        assert t2 > t1, "expired cache row was not refreshed"
    finally:
        srv.shutdown()


def test_all_blocked_batch_does_not_stall_crawl(spark, tmp_path):
    """A popped batch that is 100% robots-blocked must still subtract
    those URLs from the frontier. Regression: blocked URLs yielded NO
    ledger row, so an all-blocked batch looked like 'nothing fetched',
    the frontier was republished unchanged, and the same blocked URLs
    were re-popped every round — starving allowed URLs that sorted
    later in pop order (e.g. seeds under a disallowed subtree on a host
    whose root is allowed)."""
    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_robots_provider)
    from jsonextract_spark.crawl.pipeline import run_crawl

    def body(p):
        if p == "/robots.txt":
            return b"User-agent: *\nDisallow: /p/\n"
        if p.startswith(("/p/", "/q/")):
            i = int(p.rsplit("/", 1)[-1])
            return (f"<script>var cfg = {{id: {i}, links: []}};"
                    f"</script>").encode()
        return None

    srv, port, seen_paths = _serve(body)
    try:
        # batch_size=2: round 1 pops exactly the two /p/ URLs (url-asc
        # pop order) and BOTH are blocked; /q/1 must still get fetched
        # in round 2 instead of the /p/ pair re-popping forever
        stats = run_crawl(
            spark, str(tmp_path / "w_allblocked"), rounds=2,
            seeds=[f"http://127.0.0.1:{port}/p/1",
                   f"http://127.0.0.1:{port}/p/2",
                   f"http://127.0.0.1:{port}/q/1"],
            host_budget=2, batch_size=2,
            fetch_kernel=make_fetch_extract_kernel(),
            robots_provider=make_robots_provider())
        assert stats[0]["fetched"] == 0 and stats[0]["blocked"] == 2
        assert stats[1]["fetched"] == 1, \
            "allowed URL starved behind re-popped blocked batch"
        assert "/q/1" in seen_paths
        assert not any(p.startswith("/p/") for p in seen_paths)
    finally:
        srv.shutdown()


def test_robots_cache_fetches_once_per_host(spark, tmp_path):
    """With cache_path set, the robots provider anti-joins known hosts
    away: robots.txt is GET'd once per host per CRAWL, not once per
    round — rounds 2..n schedule ZERO robots fetches for known hosts.
    (Kernel-side per-path checking is disabled here to isolate the
    provider's requests in the server log.)"""
    import http.server
    import threading

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_robots_provider)
    from jsonextract_spark.crawl.pipeline import run_crawl

    robots_gets = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/robots.txt":
                robots_gets.append(1)
                body = b"User-agent: *\nDisallow: /private/\n"
            else:
                i = int(self.path.rsplit("/", 1)[-1])
                kids = (f"'http://127.0.0.1:{self.server.server_port}"
                        f"/p/{i + 1}'") if i < 6 else ""
                body = (f"<script>var cfg = {{id: {i}, "
                        f"links: [{kids}]}};</script>").encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_port
        stats = run_crawl(
            spark, str(tmp_path / "w_rbcache"), rounds=3,
            seeds=[f"http://127.0.0.1:{port}/p/1"],
            host_budget=10, batch_size=10,
            fetch_kernel=make_fetch_extract_kernel(respect_robots=False),
            robots_provider=make_robots_provider(
                cache_path=str(tmp_path / "robots_cache")))
        assert sum(s["fetched"] for s in stats) >= 3  # crawl progressed
        assert len(robots_gets) == 1  # one host -> ONE robots GET total
    finally:
        srv.shutdown()


def test_seen_compaction_preserves_set(spark, tmp_path, monkeypatch):
    """Compaction bounds load_seen's source list without changing the
    set: after a compact checkpoint, base + later deltas must equal the
    raw union of every per-round delta."""
    import duckdb as _duck

    from jsonextract_spark.crawl import pipeline as P

    monkeypatch.setattr(P, "COMPACT_EVERY", 2)
    wh_dir = str(tmp_path / "wc")
    P.run_crawl(spark, wh_dir, rounds=3, n_seeds=10, host_budget=3,
                batch_size=20)
    wh = P.Warehouse(wh_dir)
    assert wh.exists("seen_compact", 2)
    raw = set(r[0] for r in _duck.sql(
        f"SELECT url_hash FROM "
        f"'{wh_dir}/frontier*/*/is_new=1/*.parquet'").fetchall())
    got = set(r["url_hash"]
              for r in P.load_seen(spark, wh, 3).collect())
    assert got == raw and len(got) > 10


def test_host_stats_derive_from_ledger(spark, tmp_path, monkeypatch):
    """host_stats has no per-round table: ``load_host_stats`` derives
    the cumulative per-host totals from the fetched ledger (plus the
    COMPACT_EVERY checkpoint), so for every round it equals a DuckDB
    recompute over the ledger rounds up to it — covering both the
    ledger-only read and the checkpoint-plus-ledger fold. A non-empty,
    non-compaction round runs two write actions (ledger and frontier
    delta), only the compaction round records ``sec_compact``, and
    ``host_stats_delta`` dirs such as earlier code wrote are ignored,
    also across a resumed round."""
    import duckdb as _duck

    from jsonextract_spark.crawl import pipeline as P

    monkeypatch.setattr(P, "COMPACT_EVERY", 2)
    wh_dir = str(tmp_path / "whs")
    stats = P.run_crawl(spark, wh_dir, rounds=3, n_seeds=10,
                        host_budget=3, batch_size=20)
    wh = P.Warehouse(wh_dir)
    assert not wh.exists("host_stats_delta")
    assert wh.exists("host_stats_compact", 2)
    # rounds 1 and 3 are non-empty and off the compaction cadence
    assert [stats[r - 1]["spark_actions"] for r in (1, 3)] == [2, 2]
    assert ["sec_compact" in _round_secs(wh_dir, r)
            for r in (1, 2, 3)] == [False, True, False]
    assert _round_secs(wh_dir, 2)["sec_compact"] > 0.0

    def want(r):
        return {h: (float(c), ts) for h, c, ts in _duck.sql(
            f"SELECT host, count(*), max(epoch_us(warc_ts)/1000000.0) "
            f"FROM '{wh_dir}/fetched/round=*/*.parquet' "
            f"WHERE NOT blocked AND batch_id <= {r} "
            f"GROUP BY host").fetchall()}

    def got(r):
        return {row["host"]: (row["crawled"], row["last_fetch_ts"])
                for row in P.load_host_stats(spark, wh, r).collect()}

    before = {r: got(r) for r in (1, 2, 3)}
    for r in (1, 2, 3):
        assert before[r] == want(r) and len(before[r]) > 3, r
    assert before[1] != before[3]

    # bogus host_stats_delta dirs, as earlier code wrote them per
    # round, change nothing: not the loader, not the next round
    real_host = next(iter(before[3]))
    for r in (1, 2, 3):
        wh.save(spark.createDataFrame(
            [("bogus.example", 99.0, 1.0), (real_host, 1000.0, 2e9)],
            "host string, crawled double, last_fetch_ts double"),
            "host_stats_delta", r)
    for r in (1, 2, 3):
        assert got(r) == before[r], r
    P.run_crawl(spark, wh_dir, rounds=4, resume=True, n_seeds=10,
                host_budget=3, batch_size=20)
    assert wh.last_committed_round() == 4
    assert got(3) == before[3]
    assert got(4) == want(4)


def test_empty_round_keeps_host_stats_compaction_cadence(
        spark, tmp_path, monkeypatch):
    """An EMPTY round on the compaction boundary still writes the
    host_stats checkpoint (nothing fetched, but the cadence must
    hold so the loader's round range stays bounded through empty
    stretches), and the loader's totals are unchanged by empty
    rounds."""
    from pyspark.sql import functions as F

    from jsonextract_spark.crawl import pipeline as P

    monkeypatch.setattr(P, "COMPACT_EVERY", 3)
    wh_dir = str(tmp_path / "whe")
    P.run_crawl(spark, wh_dir, rounds=2, n_seeds=10, host_budget=3,
                batch_size=20)

    def deny_all(spark_, frontier):
        # a robots table that disallows every frontier host forces an
        # empty popped batch -> the empty-round carry path
        return (frontier.select("host").distinct()
                .withColumn("allowed", F.lit(False)))

    P.run_crawl(spark, wh_dir, rounds=3, resume=True, n_seeds=10,
                host_budget=3, batch_size=20,
                robots_provider=deny_all)
    wh = P.Warehouse(wh_dir)
    led = {r["round"]: r for r in wh.ledger()["rounds"]}
    assert led[3].get("empty")
    assert wh.exists("host_stats_compact", 3)     # cadence held
    before = {(r["host"], r["crawled"])
              for r in P.load_host_stats(spark, wh, 2).collect()}
    after = {(r["host"], r["crawled"])
             for r in P.load_host_stats(spark, wh, 3).collect()}
    assert before == after and len(after) > 0


def test_frontier_delta_is_o_round_adds(spark, tmp_path, monkeypatch):
    """The frontier is base + per-round deltas (r6): rounds write ONLY
    their additions (delta rows == the ledger's new+deferred counts —
    the pre-r6 layout rewrote the full frontier every round), the full
    base re-materializes only on the COMPACT_EVERY cadence, and the
    reconstructed view matches an independent DuckDB event replay
    (newest event per url_hash wins; adds outrank same-round pops)."""
    import duckdb as _duck

    from jsonextract_spark.crawl import pipeline as P

    monkeypatch.setattr(P, "COMPACT_EVERY", 3)
    wh_dir = str(tmp_path / "wfd")
    P.run_crawl(spark, wh_dir, rounds=4, n_seeds=10, host_budget=3,
                batch_size=20)
    wh = P.Warehouse(wh_dir)

    for r in (1, 2, 4):
        assert not wh.exists("frontier", r)   # no per-round rewrite
    assert wh.exists("frontier", 3)           # cadence base
    led = {x["round"]: x for x in wh.ledger()["rounds"]}
    for r in (1, 2, 3, 4):
        n_delta = spark.read.parquet(
            wh._path("frontier_delta", r)).count()
        assert n_delta == led[r]["new"] + led[r]["deferred"] > 0

    got = {(r["url_hash"], r["depth"], r["priority"])
           for r in P.load_frontier(spark, wh, 4).collect()}
    want = {(h, d, p) for h, d, p in _duck.sql(f"""
        WITH ev AS (
            SELECT url_hash, CAST(1 AS BIGINT) AS ev, depth, priority
            FROM '{wh_dir}/frontier/round=0/is_new=1/*.parquet'
            UNION ALL
            SELECT url_hash, CAST(round AS BIGINT) * 2 + 1, depth,
                   priority
            FROM read_parquet(
                '{wh_dir}/frontier_delta/*/*/*.parquet',
                hive_partitioning = true)
            UNION ALL
            SELECT url_hash, CAST(round AS BIGINT) * 2, NULL, NULL
            FROM read_parquet('{wh_dir}/fetched/*/*.parquet',
                              hive_partitioning = true)
        )
        SELECT url_hash, arg_max(depth, ev) AS depth,
               arg_max(priority, ev) AS priority
        FROM ev GROUP BY url_hash HAVING max(ev) % 2 = 1
        """).fetchall()}
    assert got == want and len(got) > 50


def test_uncommitted_round_debris_dropped_on_rerun(spark, tmp_path):
    """Crash-window regressions (review round 6, both reproduced
    before the fix): (a) a full ``frontier`` base left by a crashed
    schedule_recrawl must not hijack the replay base on the re-run —
    it would mask every event of that round (popped URLs resurrected,
    fresh discoveries lost forever); (b) a ``frontier_delta`` left by
    a crashed round attempt whose RE-RUN pops an empty batch must not
    commit phantom additions/seen entries. run_round deletes any
    round-state debris at the round being run before loading."""
    import duckdb as _duck

    from jsonextract_spark.crawl import pipeline as P

    wh_dir = str(tmp_path / "wdebris")
    P.run_crawl(spark, wh_dir, rounds=2, n_seeds=10, host_budget=3,
                batch_size=20)
    wh = P.Warehouse(wh_dir)
    # (a) crashed-recrawl debris: an uncommitted full base at round 3
    bogus_base = spark.createDataFrame(
        [("https://debris.example/a", -111, "debris.example", 0,
          1.0, 0, 0)],
        "url string, url_hash long, host string, depth int,"
        " priority double, attempts int, is_new int")
    wh.save(bogus_base, "frontier", 3, partition_by="is_new")
    # (b) crashed-attempt delta debris at the same round
    bogus_delta = spark.createDataFrame(
        [("https://debris.example/b", -999, "debris.example", 1,
          0.5, 0, 1)],
        "url string, url_hash long, host string, depth int,"
        " priority double, attempts int, is_new int")
    wh.save(bogus_delta, "frontier_delta", 3, partition_by="is_new")

    P.run_crawl(spark, wh_dir, rounds=4, resume=True, n_seeds=10,
                host_budget=3, batch_size=20)

    hashes = {r["url_hash"]
              for r in P.load_frontier(spark, wh, 4).collect()}
    assert -111 not in hashes and -999 not in hashes
    seen = {r["url_hash"] for r in P.load_seen(spark, wh, 4).collect()}
    assert -999 not in seen
    # the reconstruction still equals the independent event replay —
    # i.e. round 3's real events were NOT masked by the debris base
    want = {h for (h,) in _duck.sql(f"""
        WITH ev AS (
            SELECT url_hash, CAST(1 AS BIGINT) AS ev
            FROM '{wh_dir}/frontier/round=0/is_new=1/*.parquet'
            UNION ALL
            SELECT url_hash, CAST(round AS BIGINT) * 2 + 1
            FROM read_parquet('{wh_dir}/frontier_delta/*/*/*.parquet',
                              hive_partitioning = true)
            UNION ALL
            SELECT url_hash, CAST(round AS BIGINT) * 2
            FROM read_parquet('{wh_dir}/fetched/*/*.parquet',
                              hive_partitioning = true)
        )
        SELECT url_hash FROM ev GROUP BY url_hash
        HAVING max(ev) % 2 = 1""").fetchall()}
    assert hashes == want


def test_kernel_dropping_rows_fails_fast(spark, tmp_path):
    """A fetch kernel that silently drops input rows would leave those
    URLs pending forever (re-popped every round — the removal list is
    the emitted ledger). The pipeline's kernel wrapper enforces
    exactly one output row per popped URL and fails the round with a
    clear message instead."""
    import pandas as pd

    from jsonextract_spark.crawl.pipeline import run_crawl

    def dropping_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            keep = ~pdf["url"].str.contains("/u2")   # drops u2
            kept = pdf[keep].reset_index(drop=True)
            n = len(kept)
            if n == 0:
                continue   # the classic empty-filtered-batch dodge
            yield pd.DataFrame({
                "url": kept["url"], "url_hash": kept["url_hash"],
                "host": kept["host"],
                "warc_ts": pd.to_datetime([1_700_000_000_000_000] * n,
                                          unit="us"),
                "text": [""] * n, "lang": "und",
                "depth": kept["depth"], "batch_id": kept["batch_id"],
                "rank": kept["rank"], "n_objects": [0] * n,
                "links": [[] for _ in range(n)], "bytes": [0] * n,
                "blocked": [False] * n, "retry": [False] * n,
            })

    with pytest.raises(Exception, match="one output row per popped"):
        run_crawl(spark, str(tmp_path / "w_dropk"), rounds=1,
                  seeds=["http://h.example/u1", "http://h.example/u2"],
                  host_budget=5, batch_size=5,
                  fetch_kernel=dropping_kernel)


def test_stale_uncommitted_compact_ignored_on_resume(spark, tmp_path,
                                                     monkeypatch):
    """A compact checkpoint written by a FAILED round attempt (the
    round died between the checkpoint write and the ledger commit)
    must not poison the re-run: the loader's backward scan would find
    the stale checkpoint at the round being re-run and take it as its
    own base, ignoring the fresh delta forever. Recompaction DELETES
    the stale checkpoint first — covers both seen_compact and
    host_stats_compact."""
    import duckdb as _duck

    from jsonextract_spark.crawl import pipeline as P

    monkeypatch.setattr(P, "COMPACT_EVERY", 2)
    wh_dir = str(tmp_path / "wstale")
    P.run_crawl(spark, wh_dir, rounds=1, n_seeds=10, host_budget=3,
                batch_size=20)
    wh = P.Warehouse(wh_dir)
    # simulate the failed round-2 attempt: checkpoints on disk, round
    # 2 absent from the ledger
    wh.save(spark.createDataFrame(
        [("stale.example", 99.0, 1.0)],
        "host string, crawled double, last_fetch_ts double"),
        "host_stats_compact", 2)
    wh.save(spark.createDataFrame([(-424242,)], "url_hash long"),
            "seen_compact", 2)

    P.run_crawl(spark, wh_dir, rounds=3, resume=True, n_seeds=10,
                host_budget=3, batch_size=20)

    hosts = {r["host"]: r["crawled"]
             for r in P.load_host_stats(spark, wh, 3).collect()}
    assert "stale.example" not in hosts
    want = {h: float(c) for h, c in _duck.sql(
        f"SELECT host, count(*) FROM "
        f"'{wh_dir}/fetched/round=*/*.parquet' "
        f"WHERE NOT blocked GROUP BY host").fetchall()}
    assert hosts == want
    seen = {r["url_hash"] for r in P.load_seen(spark, wh, 3).collect()}
    assert -424242 not in seen
    raw = set(r[0] for r in _duck.sql(
        f"SELECT url_hash FROM "
        f"'{wh_dir}/frontier*/*/is_new=1/*.parquet'").fetchall())
    assert seen == raw


@pytest.mark.slow
def test_crawl_deterministic_across_parallelism(tmp_path):
    w2, w8 = str(tmp_path / "w2"), str(tmp_path / "w8")
    _run_crawl_cli(w2, 3, "local[2]")
    _run_crawl_cli(w8, 3, "local[8]")
    assert _ledger(w2) == _ledger(w8)
    assert _seen_set(w2, 3) == _seen_set(w8, 3)


@pytest.mark.slow
def test_crawl_resume_equals_uninterrupted(tmp_path):
    w_full = str(tmp_path / "full")
    w_res = str(tmp_path / "res")
    _run_crawl_cli(w_full, 3, "local[4]")
    # simulate a kill after round 2, then resume to round 3
    _run_crawl_cli(w_res, 2, "local[4]")
    _run_crawl_cli(w_res, 3, "local[4]", resume=True)
    assert _ledger(w_full) == _ledger(w_res)
    assert _seen_set(w_full, 3) == _seen_set(w_res, 3)


def test_pop_batch_default_delay_floor_gates_silent_hosts(spark):
    """With a default politeness floor, a host whose robots.txt is
    SILENT about rate is still gated across rounds (and pop-capped)
    exactly like a delay-asking host; an explicit robots ask wins over
    the floor, and operator-marked hot hosts are exempt."""
    from jsonextract_spark.crawl.scheduler import pop_batch

    frontier = spark.createDataFrame(
        [("http://ask.example/1", 1, "ask.example", 0, 1.0),
         ("http://silent.example/1", 2, "silent.example", 0, 1.0),
         ("http://hot.example/1", 3, "hot.example", 0, 1.0)],
        "url string, url_hash long, host string, depth int,"
        " priority double")
    robots = spark.createDataFrame(
        [("ask.example", True, 2.0), ("silent.example", True, None),
         ("hot.example", True, None)],
        "host string, allowed boolean, crawl_delay double")
    host_stats = spark.createDataFrame(
        [(h, 1.0, 100.0) for h in ("ask.example", "silent.example",
                                   "hot.example")],
        "host string, crawled double, last_fetch_ts double")

    def hosts(now_ts):
        return {r["host"] for r in pop_batch(
            frontier, robots, 5, 10, host_stats=host_stats,
            now_ts=now_ts, default_delay_sec=10.0,
            hot_hosts=["hot.example"]).collect()}

    # 5s after last fetch: ask.example's 2s robots ask has elapsed (the
    # ask WINS over the 10s floor); silent.example is floor-gated;
    # hot.example is exempt from the floor
    assert hosts(105.0) == {"ask.example", "hot.example"}
    assert hosts(111.0) == {"ask.example", "silent.example",
                            "hot.example"}
    # eff_delay column drives downstream routing: ask=2.0, floor=10.0,
    # hot=null
    eff = {r["host"]: r["eff_delay"] for r in pop_batch(
        frontier, robots, 5, 10, default_delay_sec=10.0,
        hot_hosts=["hot.example"]).collect()}
    assert eff == {"ask.example": 2.0, "silent.example": 10.0,
                   "hot.example": None}
    # the per-round pop cap applies to floor-gated hosts too:
    # 1 + floor(20/10) = 3 of the 8 URLs
    many = spark.createDataFrame(
        [(f"http://silent.example/{i}", 10 + i, "silent.example",
          0, 1.0) for i in range(8)],
        "url string, url_hash long, host string, depth int,"
        " priority double")
    got = pop_batch(many, robots, host_budget=8, batch_size=100,
                    politeness_budget_sec=20.0,
                    default_delay_sec=10.0).collect()
    assert len(got) == 3


def test_crawl_default_floor_routes_host_to_single_task(spark, tmp_path):
    """With a politeness floor, every non-hot host's URLs land in ONE
    fetch task (the per-task pacer is then the host's real clock);
    without the floor, a multi-URL host spreads over salted tasks."""
    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.pipeline import run_crawl

    # craft a seed set with one known multi-URL host: the 1M universe
    # (r9) spreads synth.seed_urls too thin for any host to exceed the
    # 8-URL salting threshold organically
    heavy = [i for i in range(20_000) if synth.host_of(i) == 0][:16]
    spread = [i for i in range(400) if synth.host_of(i) != 0][:48]
    seed_list = [synth.url_of(i) for i in heavy + spread]

    def parts_per_host(warehouse, **kw):
        run_crawl(spark, warehouse, rounds=1, seeds=seed_list,
                  host_budget=64, batch_size=200, **kw)
        fetched = spark.read.parquet(f"{warehouse}/fetched/round=1")
        from pyspark.sql import functions as F
        rows = (fetched.groupBy("host")
                .agg(F.countDistinct("partition_id").alias("p"),
                     F.count(F.lit(1)).alias("n")).collect())
        return {r["host"]: (r["p"], r["n"]) for r in rows}

    floored = parts_per_host(str(tmp_path / "w_floor"),
                             default_delay_sec=30.0)
    assert floored and all(p == 1 for p, _n in floored.values())
    salted = parts_per_host(str(tmp_path / "w_salted"))
    # the synthetic seed set puts many URLs on some hosts — without a
    # floor at least one such host must be spread over >1 task
    assert any(p > 1 for p, n in salted.values() if n >= 8)
    # hot hosts keep full-rate salting even under a floor
    hot = [h for h, (_p, n) in salted.items() if n >= 8]
    hotted = parts_per_host(str(tmp_path / "w_hot"),
                            default_delay_sec=30.0, hot_hosts=hot)
    assert any(p > 1 for h, (p, n) in hotted.items() if h in hot)


def test_fetch_kernel_default_floor_paces_silent_host():
    """A host with NO robots rate ask is still paced by the default
    floor (3 URLs -> >= 2 * floor), and a hot host is exempt."""
    import time

    import pandas as pd

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)

    srv, port, _ = _serve(
        lambda p: b"User-agent: *\nDisallow: /private/\n"
        if p == "/robots.txt" else b"<html>ok</html>")
    try:
        host = f"127.0.0.1:{port}"
        pdf = pd.DataFrame({
            "url": [f"http://{host}/x/{i}" for i in range(3)],
            "url_hash": [11, 22, 33],
            "host": [host] * 3, "depth": [0] * 3,
            "batch_id": [1] * 3, "rank": [1, 2, 3]})
        kern = make_fetch_extract_kernel(timeout_sec=5,
                                         default_delay_sec=0.5)
        t0 = time.time()
        out = pd.concat(list(kern([pdf.copy()])))
        dt = time.time() - t0
        assert list(out["blocked"]) == [False] * 3
        assert dt >= 1.0, f"floor not honored: {dt:.2f}s for 3 urls"

        hot_kern = make_fetch_extract_kernel(
            timeout_sec=5, default_delay_sec=5.0, hot_hosts=[host])
        t0 = time.time()
        out = pd.concat(list(hot_kern([pdf.copy()])))
        dt = time.time() - t0
        assert list(out["blocked"]) == [False] * 3
        assert dt < 5.0, f"hot host should skip the floor: {dt:.2f}s"
    finally:
        srv.shutdown()


def test_robots_cache_is_bounded():
    """The per-worker robots parser cache evicts once it reaches its
    entry bound: expired entries go first, then the oldest tenth —
    a reused worker that has seen millions of hosts must not hold one
    parser per host forever."""
    from jsonextract_spark.crawl import fetch_http as fh

    saved = dict(fh._ROBOTS_CACHE)
    try:
        fh._ROBOTS_CACHE.clear()
        now = 1_000_000.0
        cap = fh._ROBOTS_CACHE_MAX
        # fill to the cap with FRESH definitive entries, oldest first —
        # every age is far below the TTL, so the expiry pass frees
        # nothing and the oldest-drop branch must do all the work
        for i in range(cap):
            fh._ROBOTS_CACHE[f"http://h{i}.example"] = fh._RobotsEntry(
                None, True, now - (cap - i) * 0.001)
        # a handful ARE expired (older than the definitive TTL) — the
        # expiry pass removes exactly these first
        for i in range(5, 10):
            fh._ROBOTS_CACHE[f"http://h{i}.example"] = fh._RobotsEntry(
                None, True, now - fh._ROBOTS_TTL_SEC - 1)
        fh._evict_robots_cache(now)
        assert len(fh._ROBOTS_CACHE) <= cap - max(cap // 10, 1)
        # newest entries survive; the expired and the oldest-fresh are
        # both gone (h0 was the oldest fresh entry, h5-h9 expired)
        assert f"http://h{cap - 1}.example" in fh._ROBOTS_CACHE
        assert f"http://h{cap // 2}.example" in fh._ROBOTS_CACHE
        assert "http://h0.example" not in fh._ROBOTS_CACHE
        assert "http://h7.example" not in fh._ROBOTS_CACHE
    finally:
        fh._ROBOTS_CACHE.clear()
        fh._ROBOTS_CACHE.update(saved)


def test_fetch_kernel_advertises_politeness_config():
    """The fused HTTP kernel attaches its floor/hot-host config to the
    returned callable; run_crawl inherits these when its own politeness
    args are left unset, so the scheduler's routing/gating and the
    kernel's pacer cannot silently disagree (a kernel pacing 1 req/s
    under 8-way salting would deliver 8x the promised rate). The
    synthetic kernel advertises nothing -> floor 0."""
    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_fetcher)

    kern = make_fetch_extract_kernel(default_delay_sec=7.0,
                                     hot_hosts=["hot.example"])
    assert kern.default_delay_sec == 7.0
    assert "hot.example" in kern.hot_hosts
    assert make_fetch_extract_kernel().default_delay_sec == 1.0
    assert getattr(synth.fetch_extract_partition,
                   "default_delay_sec", 0.0) == 0.0
    # make_fetcher matches hot hosts by netloc OR origin (it has no
    # host column); both spellings must work
    assert make_fetcher(default_delay_sec=3.0) is not None


def test_auto_hot_host_detection_matches_manual_list(spark, tmp_path):
    """Automatic hot-host detection (r9): a host owning ~50% of the
    frontier that nobody listed in ``hot_hosts`` gets floor-exempt
    salted routing purely from its pending-row count — and the fetched
    ledger (including partition ids, i.e. the actual task routing) is
    byte-identical to the run where an operator hand-listed the host.
    The cold hosts keep their single-task polite routing in both."""
    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    hot_ids = [i for i in range(20_000)
               if synth.host_of(i) == 0][:40]
    cold_ids = [i for i in range(400) if synth.host_of(i) != 0][:40]
    assert len(hot_ids) == 40 and len(cold_ids) == 40
    seeds = [synth.url_of(i) for i in hot_ids + cold_ids]

    def ledger(wdir):
        wh = Warehouse(wdir)
        return sorted(
            tuple(r) for r in
            spark.read.parquet(wh._path("fetched", 1)).collect())

    common = dict(rounds=1, seeds=seeds, host_budget=24,
                  batch_size=120, default_delay_sec=5.0)
    a = str(tmp_path / "manual")
    run_crawl(spark, a, hot_hosts=["host0.example"], **common)
    b = str(tmp_path / "auto")
    # threshold below host0's 40 pending rows but above every cold
    # host's few; the manual run keeps the 100k default, so detection
    # is inert there and the hand list is the only hot source
    run_crawl(spark, b, auto_hot_min_pending=35, **common)
    la, lb = ledger(a), ledger(b)
    assert la == lb and len(la) > 0

    rows = spark.read.parquet(
        Warehouse(b)._path("fetched", 1)).collect()
    hot_parts = {r["partition_id"] for r in rows
                 if r["host"] == "host0.example"}
    assert len({r["rank"] for r in rows
                if r["host"] == "host0.example"}) == 24
    assert len(hot_parts) >= 2          # really salted across tasks
    by_cold = {}
    for r in rows:
        if r["host"] != "host0.example":
            by_cold.setdefault(r["host"], set()).add(r["partition_id"])
    assert by_cold and all(len(p) == 1 for p in by_cold.values())


def test_live_crawl_inherits_kernel_floor_end_to_end(spark, tmp_path):
    """FULL-PIPELINE politeness floor: a live run_crawl with an HTTP
    kernel whose robots.txt is silent about rate, and NO explicit
    politeness args, must (a) inherit the kernel's floor into the
    scheduler (single fetch task per host) and (b) space the host's
    GETs >= floor seconds apart on the server's own clock."""
    import time

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel, make_robots_provider)
    from jsonextract_spark.crawl.pipeline import run_crawl

    hits = []

    def body(p):
        if p == "/robots.txt":
            return b"User-agent: *\nDisallow: /private/\n"
        hits.append((p, time.time()))
        return b"<script>var c = {id: 1, links: []};</script>"

    srv, port, _log = _serve(body)
    try:
        seeds = [f"http://127.0.0.1:{port}/x/{i}" for i in range(3)]
        stats = run_crawl(
            spark, str(tmp_path / "w_floor_e2e"), rounds=1,
            seeds=seeds, host_budget=5, batch_size=5,
            fetch_kernel=make_fetch_extract_kernel(
                timeout_sec=5, default_delay_sec=0.5),
            robots_provider=make_robots_provider(timeout_sec=5))
        assert stats[0]["fetched"] == 3
        fetched = spark.read.parquet(
            str(tmp_path / "w_floor_e2e") + "/fetched/round=1")
        # inherited floor -> the host's URLs all ran in ONE task
        assert fetched.select("partition_id").distinct().count() == 1
        # and consecutive page GETs are spaced >= the floor (server
        # clock; lower-bound only — sleeps guarantee the minimum)
        page_ts = sorted(t for p, t in hits)
        gaps = [b - a for a, b in zip(page_ts, page_ts[1:])]
        assert len(gaps) == 2 and all(g >= 0.45 for g in gaps), gaps
    finally:
        srv.shutdown()


def test_robots_cache_appends_deltas_and_compacts(spark, tmp_path,
                                                  monkeypatch):
    """The cross-round robots cache is append-only deltas: each
    provider call writes ONLY its newly-resolved hosts as a new
    delta=<uuid> subdir (a full-cache rewrite per round is O(total
    hosts) I/O at frontier scale), readers take the newest row per
    host, and the delta list compacts once it exceeds the bound."""
    import os

    from jsonextract_spark.crawl import fetch_http as fh

    srv, port, log = _serve(
        lambda p: b"User-agent: *\nDisallow: /private/\n"
        if p == "/robots.txt" else b"ok")
    try:
        cache = str(tmp_path / "rc_delta")
        provider = fh.make_robots_provider(cache_path=cache,
                                           ttl_sec=3600.0,
                                           timeout_sec=5)

        def frontier(hosts):
            return spark.createDataFrame(
                [(h, f"http://{h}/x") for h in hosts],
                "host string, url string")

        h1 = f"127.0.0.1:{port}"
        out1 = provider(spark, frontier([h1]))
        assert {r["host"] for r in out1.collect()} == {h1}
        deltas = [e for e in os.listdir(cache) if e.startswith("delta=")]
        assert len(deltas) == 1
        n_robots_gets = log.count("/robots.txt")

        # second call, same host: answered from the cache (no new GET),
        # and the appended delta contains ZERO rows — nothing new
        out2 = provider(spark, frontier([h1]))
        assert {r["host"] for r in out2.collect()} == {h1}
        assert log.count("/robots.txt") == n_robots_gets
        deltas = sorted(e for e in os.listdir(cache)
                        if e.startswith("delta="))
        assert len(deltas) == 2
        sizes = {d: spark.read.parquet(os.path.join(cache, d)).count()
                 for d in deltas}
        assert sorted(sizes.values()) == [0, 1]

        # push past the compaction bound: the delta list folds to one
        monkeypatch.setattr(fh, "ROBOTS_CACHE_COMPACT_DELTAS", 3)
        for _ in range(4):
            provider(spark, frontier([h1]))
        deltas = [e for e in os.listdir(cache) if e.startswith("delta=")]
        assert len(deltas) <= 3
        out = provider(spark, frontier([h1]))
        assert {r["host"] for r in out.collect()} == {h1}
    finally:
        srv.shutdown()


def test_robots_provider_output_bounded_to_round_hosts(spark, tmp_path):
    """The round's robots table is O(round hosts), not O(total hosts
    ever cached): pop_batch BROADCASTS this table, so returning the
    whole crawl-lifetime cache would grow the broadcast with crawl age.
    Simulate an old crawl by planting a large cache delta of foreign
    hosts, then pin that a one-host round gets exactly one output row —
    answered from the cache with no extra robots GETs."""
    import time as _time

    from jsonextract_spark.crawl import fetch_http as fh

    srv, port, log = _serve(
        lambda p: b"User-agent: *\n" if p == "/robots.txt" else b"ok")
    try:
        cache = str(tmp_path / "rc_bound")
        provider = fh.make_robots_provider(cache_path=cache,
                                           ttl_sec=3600.0,
                                           timeout_sec=5)

        def frontier(hosts):
            return spark.createDataFrame(
                [(h, f"http://{h}/x") for h in hosts],
                "host string, url string")

        h1 = f"127.0.0.1:{port}"
        provider(spark, frontier([h1])).collect()

        # plant 500 foreign cached hosts (a long crawl's accumulated
        # cache) as a delta, bypassing the provider
        now = _time.time()
        foreign = spark.createDataFrame(
            [(f"old{i}.example", True, None, now, True)
             for i in range(500)], fh.ROBOTS_SCHEMA)
        import os
        os.makedirs(cache, exist_ok=True)
        tmp = os.path.join(cache, ".tmp-foreign")
        foreign.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, os.path.join(cache, "delta=foreign"))

        n_gets = log.count("/robots.txt")
        out = provider(spark, frontier([h1])).collect()
        # exactly the round's host — none of the 500 foreign rows
        assert [r["host"] for r in out] == [h1]
        # and it came from the cache: no new robots GET
        assert log.count("/robots.txt") == n_gets
    finally:
        srv.shutdown()


def test_recrawl_drops_crashed_round_debris(spark, tmp_path):
    """If run_round(rn) crashed after some writes and the operator
    resumes via schedule_recrawl (which commits rn as its maintenance
    round) instead of re-running rn, the recrawl commit must not adopt
    the crashed attempt's debris: its frontier_delta would become the
    round's seen delta (URLs marked seen but absent from the reopened
    frontier — never crawled), and its fetched rows would
    double-count into host stats and surface in crawl_order and later
    recrawl age computations."""
    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.recrawl import schedule_recrawl

    wh_dir = str(tmp_path / "wrecrawl_debris")
    P.run_crawl(spark, wh_dir, rounds=2, n_seeds=10, host_budget=3,
                batch_size=20)
    wh = P.Warehouse(wh_dir)

    # debris from a crashed round-3 attempt: delta (-777 would become
    # a phantom seen entry) and a fetched ledger row (a phantom fetch
    # of debris.example in host stats)
    wh.save(spark.createDataFrame(
        [("https://debris.example/d", -777, "debris.example", 1,
          0.5, 0, 1)],
        "url string, url_hash long, host string, depth int,"
        " priority double, attempts int, is_new int"),
        "frontier_delta", 3, partition_by="is_new")
    wh.save(spark.read.parquet(wh._path("fetched", 1))
            .filter(~F.col("blocked")).limit(1)
            .withColumn("url", F.lit("https://debris.example/f"))
            .withColumn("host", F.lit("debris.example")),
            "fetched", 3)

    import time as _time
    n = schedule_recrawl(spark, wh, after_round=2, max_age_sec=0.0,
                         now_ts=_time.time() + 10.0)
    assert n > 0 and wh.last_committed_round() == 3

    seen = {r["url_hash"] for r in P.load_seen(spark, wh, 3).collect()}
    assert -777 not in seen
    stats = P.load_host_stats(spark, wh, 3)
    assert "debris.example" not in {r["host"] for r in stats.collect()}
    urls = {r["url"] for r in P.crawl_order(spark, wh_dir).collect()}
    assert "https://debris.example/f" not in urls
    # the reopened frontier (still-pending ∪ n reopened stale URLs)
    # holds the real rows, not the debris
    reopened = {r["url_hash"]
                for r in P.load_frontier(spark, wh, 3).collect()}
    assert -777 not in reopened and len(reopened) >= n


def test_validated_kernel_counts_unread_input():
    """A kernel that returns without exhausting its input iterator
    must still fail the 1:1 contract — counting only the consumed
    prefix would pass while the remaining batches are silently dropped
    (the exact re-popped-forever failure mode the check exists for)."""
    import pandas as pd

    from jsonextract_spark.crawl.pipeline import _validated_kernel

    batches = [pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [3]})]

    def lazy_kernel(bs):
        for pdf in bs:
            yield pdf
            return            # first batch only; input NOT exhausted

    with pytest.raises(ValueError, match="one output row per popped"):
        list(_validated_kernel(lazy_kernel)(iter(batches)))

    # a kernel consuming everything still passes, rows preserved
    out = list(_validated_kernel(lambda bs: (p for p in bs))(
        iter(batches)))
    assert sum(len(p) for p in out) == 3


def test_replay_shuffle_path_equals_broadcast(spark, tmp_path):
    """The replay and host_stats joins carry no hints, so the engine's
    size thresholds alone pick broadcast or shuffle. Past them both
    plan as shuffles, and the results must be identical to the
    broadcast path. Forces the shuffled path with Spark conf only
    (static and AQE autoBroadcastJoinThreshold=-1, so AQE cannot
    re-convert to broadcast), runs a FULL crawl on each path, and
    pins equality of the fetched ledger (crawl order), the
    reconstructed frontier, and the folded host_stats."""
    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.pipeline import (crawl_order,
                                                  run_crawl)
    from jsonextract_spark.crawl.tables import Warehouse

    kw = dict(rounds=3, n_seeds=30, host_budget=4, batch_size=100)
    wa = str(tmp_path / "wh_bcast")
    run_crawl(spark, wa, **kw)

    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        wb = str(tmp_path / "wh_shuffle")
        run_crawl(spark, wb, **kw)

        wha, whb = Warehouse(wa), Warehouse(wb)
        last = wha.last_committed_round()
        assert whb.last_committed_round() == last

        def orows(df, cols):
            return sorted(tuple(r) for r in df.select(*cols).collect())

        assert orows(crawl_order(spark, wb),
                     ["batch_id", "rank", "url"]) == \
            orows(crawl_order(spark, wa), ["batch_id", "rank", "url"])
        fcols = ["url_hash", "depth", "priority", "attempts"]
        assert orows(P.load_frontier(spark, whb, last), fcols) == \
            orows(P.load_frontier(spark, wha, last), fcols)
        hcols = ["host", "crawled"]
        assert orows(P.load_host_stats(spark, whb, last), hcols) == \
            orows(P.load_host_stats(spark, wha, last), hcols)

        # plan pin: with auto-broadcast disabled the replay join
        # really is a shuffle join, not a broadcast
        plan = (P.load_frontier(spark, whb, last)
                ._jdf.queryExecution().sparkPlan().toString())
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, \
            plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_replay_broadcast_hint_on_small_windows(spark, tmp_path):
    """Default path: the replay and pop joins carry no hints (only the
    synthetic robots table broadcasts itself), and at test scale
    Spark's size-based planner broadcasts the small sides on its own.
    The replay anti-join plans as a broadcast up front (no frontier
    shuffle during reconstruction), and in the FINAL adaptive plan of
    the pop (read after an action) the replay anti-join and the pop's
    robots and host_stats joins are all broadcast hash joins, with no
    sort-merge join anywhere."""
    import re
    import time

    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.scheduler import pop_batch
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wh_hint")
    run_crawl(spark, wdir, rounds=2, n_seeds=20, host_budget=3,
              batch_size=60)
    wh = Warehouse(wdir)
    last = wh.last_committed_round()
    plan = (P.load_frontier(spark, wh, last)
            ._jdf.queryExecution().sparkPlan().toString())
    assert "BroadcastHashJoin" in plan, plan

    batch = pop_batch(P.load_frontier(spark, wh, last),
                      P.make_robots(spark), 3, 60,
                      host_stats=P.load_host_stats(spark, wh, last),
                      now_ts=time.time())
    assert batch.collect()
    adaptive = batch._jdf.queryExecution().executedPlan()
    assert adaptive.toString().startswith(
        "AdaptiveSparkPlan isFinalPlan=true"), adaptive.toString()
    final = adaptive.finalPhysicalPlan().toString()
    assert "SortMergeJoin" not in final, final
    joins = re.findall(r"BroadcastHashJoin \[(\w+)#\d+L?\], "
                       r"\[\w+#\d+L?\], (\w+)", final)
    assert sorted(joins) == [("host", "LeftOuter"),
                             ("host", "LeftOuter"),
                             ("url_hash", "LeftAnti")], final


def test_robots_cache_read_is_pure(spark, tmp_path):
    """ADVICE r6: the cache read must not mutate the cache dir —
    crashed .tmp- debris is ignored by ``_load_cache`` (explicit
    delta-dir listing) and cleared only by the WRITE path (``_clean_cache_dir``, run by the provider, the
    cache's owning writer). Two crawls sharing a cache dir can then
    never have a reader deleting under another reader."""
    import os
    import time as _time

    from jsonextract_spark.crawl import fetch_http as fh

    cache = str(tmp_path / "rc_pure")
    os.makedirs(cache)
    provider = fh.make_robots_provider(cache_path=cache,
                                       ttl_sec=3600.0)
    now = _time.time()
    rows = spark.createDataFrame(
        [("cached.example", True, None, now, True)], fh.ROBOTS_SCHEMA)
    tmpdir = os.path.join(cache, ".tmp-write")
    rows.write.mode("overwrite").parquet(tmpdir)
    os.replace(tmpdir, os.path.join(cache, "delta=good"))

    # plant debris: a crashed half-write
    rows.write.mode("overwrite").parquet(
        os.path.join(cache, ".tmp-crashed"))

    # pure read: returns the delta rows, ignores and PRESERVES debris
    got = provider._load_cache(spark, cache)
    assert [r["host"] for r in got.collect()] == ["cached.example"]
    assert os.path.isdir(os.path.join(cache, ".tmp-crashed"))

    # the write path clears it
    provider._clean_cache_dir(cache)
    assert not os.path.exists(os.path.join(cache, ".tmp-crashed"))
    assert os.path.isdir(os.path.join(cache, "delta=good"))
    got2 = provider._load_cache(spark, cache)
    assert [r["host"] for r in got2.collect()] == ["cached.example"]


def test_drop_uncommitted_refuses_committed_round(tmp_path):
    """ADVICE r8: _drop_uncommitted_round_state deletes the round's
    `fetched` ledger rows, so a stale round number pointing at a
    COMMITTED round must raise instead of silently erasing replay
    removals (which would re-open already-crawled URLs)."""
    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.tables import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    wh.commit_round(3, {"batch": 10})
    with pytest.raises(ValueError, match="committed"):
        P._drop_uncommitted_round_state(wh, 3)
    # uncommitted rounds still clean fine (no-op on empty warehouse)
    P._drop_uncommitted_round_state(wh, 4)


def test_politeness_floor_default_resolution():
    """r8 ask 7: ONE shared floor constant. A custom kernel that
    advertises nothing gets scheduler.DEFAULT_POLITENESS_FLOOR_SEC
    (polite by default); HTTP kernels advertise that same constant;
    only the synthetic no-network path (fetch_kernel=None) is 0."""
    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.scheduler import (
        DEFAULT_POLITENESS_FLOOR_SEC)

    def bare_kernel(batches):   # advertises nothing
        yield from batches

    d, h = P._resolve_politeness(bare_kernel, None, None)
    assert d == DEFAULT_POLITENESS_FLOOR_SEC == 1.0
    assert h is None
    # synthetic corpus: zero floor
    assert P._resolve_politeness(None, None, None)[0] == 0.0
    # explicit argument always wins
    assert P._resolve_politeness(bare_kernel, 2.5, None)[0] == 2.5
    # an advertised 0.0 is respected (not clobbered by the floor)
    bare_kernel.default_delay_sec = 0.0
    bare_kernel.hot_hosts = {"h1.example"}
    d, h = P._resolve_politeness(bare_kernel, None, None)
    assert d == 0.0 and h == {"h1.example"}
    # HTTP kernels advertise the shared constant
    from jsonextract_spark.crawl import fetch_http as FH
    k = FH.make_fetch_extract_kernel()
    assert k.default_delay_sec == DEFAULT_POLITENESS_FLOOR_SEC


def test_long_horizon_replay_and_resume(spark, tmp_path):
    """r8 ask 5: 33 rounds at the PRODUCTION COMPACT_EVERY=16 — two
    full compaction generations. Pins that (a) the frontier replay
    window is BOUNDED by the compaction cycle (sources never grow with
    total crawl age, the O(1)-per-round scale claim), and (b) resuming
    an interrupted crawl at round 31 — crossing the round-32
    compaction inside the resumed portion — produces a byte-identical
    crawl ledger and frontier/seen state to the uninterrupted run."""
    import re

    from jsonextract_spark.crawl import pipeline as P
    from jsonextract_spark.crawl.pipeline import crawl_order, run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    assert P.COMPACT_EVERY == 16      # production value, not patched
    cfg = dict(n_seeds=12, host_budget=3, batch_size=24)
    wa = str(tmp_path / "w_full")
    run_crawl(spark, wa, rounds=33, **cfg)
    wha = Warehouse(wa)

    def replay_sources(upto):
        # {table: rounds} the frontier replay scans, from its plan's
        # input files: the base, addition deltas and removal ledgers
        src = {}
        for f in P.load_frontier(spark, wha, upto).inputFiles():
            m = re.search(r"/(frontier|frontier_delta|fetched)/round=(\d+)/",
                          f)
            src.setdefault(m.group(1), set()).add(int(m.group(2)))
        return src

    # (a) bounded replay window across generations
    for upto, max_deltas in ((15, 15), (24, 8), (31, 15), (33, 1)):
        src = replay_sources(upto)
        assert len(src.get("frontier", ())) == 1, (upto, src)
        adds = src.get("frontier_delta", set())
        rms = src.get("fetched", set())
        assert len(adds) <= max_deltas, (upto, len(adds))
        assert len(rms) <= max_deltas + 1, (upto, len(rms))
        # the base is always the newest generation boundary
        (base_round,) = src["frontier"]
        assert base_round == (upto // 16) * 16 or base_round == 0
    # generation 2 (upto=24) reads FEWER sources than the
    # pre-compaction peak (upto=15) even though 9 more rounds ran
    assert len(replay_sources(24)["frontier_delta"]) \
        < len(replay_sources(15)["frontier_delta"])

    # (b) interrupted-at-31 + resume == uninterrupted
    wb = str(tmp_path / "w_resume")
    run_crawl(spark, wb, rounds=31, **cfg)
    run_crawl(spark, wb, rounds=33, resume=True, **cfg)
    whb = Warehouse(wb)
    oa = [(r["batch_id"], r["rank"], r["url"])
          for r in crawl_order(spark, wa).collect()]
    ob = [(r["batch_id"], r["rank"], r["url"])
          for r in crawl_order(spark, wb).collect()]
    assert oa == ob and len(oa) > 200
    fa = sorted(r["url_hash"]
                for r in P.load_frontier(spark, wha, 33).collect())
    fb = sorted(r["url_hash"]
                for r in P.load_frontier(spark, whb, 33).collect())
    assert fa == fb
    sa = sorted(r["url_hash"]
                for r in P.load_seen(spark, wha, 33).collect())
    sb = sorted(r["url_hash"]
                for r in P.load_seen(spark, whb, 33).collect())
    assert sa == sb and len(sa) > len(fa) == len(set(fa))


def test_live_crawl_follows_real_anchors(spark, tmp_path):
    """r9: link discovery is the union of JSON-object links and real
    <a href> anchors — pages here carry NO JSON links at all, only
    RELATIVE hrefs, so round 2 fetching the children proves the href
    extractor + base-URL resolution feed the frontier."""
    import http.server
    import threading

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)
    from jsonextract_spark.crawl.pipeline import run_crawl

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            i = int(self.path.rsplit("/", 1)[-1])
            kids = "".join(
                f'<li><a href="/p/{i * 2 + j}">child {j}</a></li>'
                for j in (1, 2)) if i < 8 else ""
            body = (f"<html><body><h1>page {i}</h1><ul>{kids}</ul>"
                    f'<a href="#top">skip</a>'
                    f'<a href="mailto:x@y">skip</a></body></html>'
                    ).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_port
        seeds = [f"http://127.0.0.1:{port}/p/1",
                 f"http://127.0.0.1:{port}/p/2"]
        stats = run_crawl(spark, str(tmp_path / "whref"), rounds=2,
                          seeds=seeds, host_budget=100, batch_size=50,
                          fetch_kernel=make_fetch_extract_kernel())
        assert stats[0]["fetched"] == 2
        assert stats[0]["objects"] == 0      # no JSON on these pages
        assert stats[0]["new"] == 4          # hrefs of pages 1 and 2
        assert stats[1]["fetched"] == 4      # children followed
    finally:
        srv.shutdown()


def test_live_crawl_resolves_links_after_redirect(spark, tmp_path):
    """r9 review finding: relative links on a REDIRECTED page must
    resolve against the post-redirect URL (urlopen follows the 301;
    resolving against the requested URL feeds wrong frontier URLs)."""
    import http.server
    import threading

    from jsonextract_spark.crawl.fetch_http import (
        make_fetch_extract_kernel)
    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.tables import Warehouse

    hits = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            if self.path == "/start":
                self.send_response(301)
                self.send_header("Location", "/blog/post/")
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            if self.path == "/blog/post/":
                body = b'<html><body><a href="next">n</a></body></html>'
            elif self.path == "/blog/post/next":
                body = b"<html><body>leaf</body></html>"
            else:
                body = b"nothing here"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        port = srv.server_port
        # zero politeness floor: round 2 must not depend on round 1
        # taking longer than the default 1 s per-host delay
        run_crawl(spark, str(tmp_path / "wredir"), rounds=2,
                  seeds=[f"http://127.0.0.1:{port}/start"],
                  host_budget=10, batch_size=10,
                  fetch_kernel=make_fetch_extract_kernel(
                      default_delay_sec=0.0))
        # the child GET went to /blog/post/next (post-redirect base),
        # NOT to /next (the requested URL's root)
        assert "/blog/post/next" in hits
        assert "/next" not in hits
        wh = Warehouse(str(tmp_path / "wredir"))
        fetched = spark.read.parquet(f"{wh.root}/fetched").collect()
        urls = {r.url for r in fetched}
        assert any(u.endswith("/blog/post/next") for u in urls)
    finally:
        srv.shutdown()
