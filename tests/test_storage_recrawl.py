"""Bucketed-join plan assertion + recrawl scheduling."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from jsonextract_spark.crawl import storage

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(5000).select(
            F.col("id").alias("url_hash"),
            (F.col("id") % 7).alias("depth"))
        right = spark.range(0, 5000, 2).select(
            F.col("id").alias("url_hash"),
            (F.col("id") * 3).alias("n_objects"))
        storage.save_bucketed(left, "t_frontier_b")
        storage.save_bucketed(right, "t_extracted_b")

        joined = storage.bucketed_join(spark, "t_frontier_b",
                                       "t_extracted_b")
        assert joined.count() == 2500
        assert not storage.plan_has_exchange(joined), \
            "bucketed join must not shuffle either side"

        # control: the same join on plain parquet DOES shuffle
        p1, p2 = str(tmp_path / "p1"), str(tmp_path / "p2")
        left.write.mode("overwrite").parquet(p1)
        right.write.mode("overwrite").parquet(p2)
        plain = spark.read.parquet(p1).join(spark.read.parquet(p2),
                                            "url_hash")
        plain.count()
        assert storage.plan_has_exchange(plain)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_frontier_b")
        spark.sql("DROP TABLE IF EXISTS t_extracted_b")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_schedule_recrawl_roundtrip(spark, tmp_path):
    """End-to-end refresh: crawl, schedule a recrawl maintenance round
    (max_age=0 → everything is stale), resume — the next round refetches
    previously-fetched URLs while the seen set stays unchanged."""
    import duckdb as _duck

    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.recrawl import schedule_recrawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wrc")
    run_crawl(spark, wdir, rounds=2, n_seeds=12, host_budget=4,
              batch_size=30)
    wh = Warehouse(wdir)

    def seen_set():
        return set(r[0] for r in _duck.sql(
            f"SELECT url_hash FROM "
            f"'{wdir}/frontier*/*/is_new=1/*.parquet'").fetchall())

    def fetched_urls(rno):
        return set(r[0] for r in _duck.sql(
            f"SELECT url FROM "
            f"'{wdir}/fetched/round={rno}/*.parquet'").fetchall())

    seen_before = seen_set()
    early = fetched_urls(1) | fetched_urls(2)
    n = schedule_recrawl(spark, wh, after_round=2, max_age_sec=0)
    assert n == len(early)                      # everything went stale
    assert wh.last_committed_round() == 3       # maintenance round
    # its two actions: the stale-URL count and the frontier base write
    assert wh.ledger()["rounds"][3]["spark_actions"] == 2
    assert seen_set() == seen_before            # recrawl never forgets

    run_crawl(spark, wdir, rounds=4, resume=True, n_seeds=12,
              host_budget=4, batch_size=30)
    refetched = fetched_urls(4) & early
    assert refetched                            # stale URLs refetched
    assert seen_set() >= seen_before            # history never shrinks


def test_recrawl_keeps_seen_deltas_unique(spark, tmp_path):
    """Regression (ADVICE r2): the recrawl maintenance round must keep
    reopened hashes in the seen gate — dropping them would re-enqueue
    links to still-seen URLs and duplicate their seen-delta rows.
    Pinned invariant: every url_hash appears at most once across
    all seen deltas of the whole resumed crawl."""
    import duckdb as _duck

    from jsonextract_spark.crawl.pipeline import run_crawl
    from jsonextract_spark.crawl.recrawl import schedule_recrawl
    from jsonextract_spark.crawl.tables import Warehouse

    wdir = str(tmp_path / "wrc_dedup")
    # config chosen to reproduce the original bug: the reopened URLs
    # must be refetched (round 4) and then RE-linked by later rounds'
    # link discovery once they are no longer pending in the frontier
    run_crawl(spark, wdir, rounds=2, n_seeds=12, host_budget=8,
              batch_size=60)
    wh = Warehouse(wdir)
    n = schedule_recrawl(spark, wh, after_round=2, max_age_sec=0)
    assert n > 0
    run_crawl(spark, wdir, rounds=8, resume=True, n_seeds=12,
              host_budget=8, batch_size=60)

    dup_hashes = _duck.sql(
        f"SELECT url_hash, count(*) AS c FROM "
        f"'{wdir}/frontier*/*/is_new=1/*.parquet' "
        f"GROUP BY url_hash HAVING count(*) > 1").fetchall()
    assert dup_hashes == [], \
        f"seen deltas duplicated after recrawl: {dup_hashes[:5]}"


def test_crawl_order_plan_is_o1_in_rounds(spark, tmp_path):
    """The reporting reader scans all committed rounds as ONE relation:
    the pre-r6 per-round Python union loop built an O(rounds) logical
    plan, so analysis time grew with crawl age at thousands of rounds.
    Pin: no Union in the plan, and the plan's node count for a 3-round
    warehouse equals a 1-round warehouse's."""
    from jsonextract_spark.crawl.pipeline import crawl_order, run_crawl

    w1, w3 = str(tmp_path / "po1"), str(tmp_path / "po3")
    run_crawl(spark, w1, rounds=1, n_seeds=10, host_budget=3,
              batch_size=20)
    run_crawl(spark, w3, rounds=3, n_seeds=10, host_budget=3,
              batch_size=20)

    def plan_of(w):
        df = crawl_order(spark, w)
        return df._jdf.queryExecution().optimizedPlan().toString()

    p1, p3 = plan_of(w1), plan_of(w3)
    assert "Union" not in p3
    assert len(p1.splitlines()) == len(p3.splitlines())
    # and the one-scan form still returns the full multi-round ledger,
    # ordered (batch_id, rank)
    rows = crawl_order(spark, w3).collect()
    assert {r["batch_id"] for r in rows} == {1, 2, 3}
    assert rows == sorted(rows, key=lambda r: (r["batch_id"], r["rank"]))


def test_refresh_candidates_and_reopen(spark):
    from jsonextract_spark.crawl.recrawl import (
        refresh_candidates, reopen_in_frontier)

    fetched = spark.createDataFrame(
        [("https://h/a", 1, "h", 1, 100.0),
         ("https://h/b", 2, "h", 2, 900.0),
         ("https://h/c", 3, "h", 0, 950.0)],
        "url string, url_hash long, host string, depth int,"
        " fetched_ts double")
    stale = refresh_candidates(fetched, now_ts=1000.0, max_age_sec=300)
    assert {r["url_hash"] for r in stale.collect()} == {1}

    frontier = spark.createDataFrame(
        [("https://h/x", 9, "h", 3, 0.25),
         ("https://h/a", 1, "h", 1, 0.01)],  # already pending, low prio
        "url string, url_hash long, host string, depth int,"
        " priority double")
    merged = reopen_in_frontier(frontier, stale)
    rows = {r["url_hash"]: r for r in merged.collect()}
    assert len(rows) == 2
    assert rows[1]["priority"] == pytest.approx(0.25)  # boosted refresh wins
    assert rows[9]["priority"] == pytest.approx(0.25)
