"""Recrawl / refresh scheduling.

A crawl is never done: pages expire and must be refetched. This module
selects refresh candidates by age and re-opens them in the frontier.

Exactness note: the exact seen set (the frontier tables' ``is_new=1``
partitions plus ``seen_compact`` checkpoints, read by
``pipeline.load_seen``) keeps the hash, because its history is
append-only. Re-opening works by inserting the URL back into the
frontier directly, bypassing the seen gate — the gate only filters
*newly discovered* links. Reopened URLs stay in the exact seen set, so
later links to them are still gated away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from jsonextract_spark.crawl.scheduler import priority_of


def refresh_candidates(fetched: DataFrame, now_ts: float,
                       max_age_sec: float,
                       refresh_boost: float = 0.5) -> DataFrame:
    """fetched(url, url_hash?, depth, ...) + per-url last fetch time ->
    frontier rows for pages older than ``max_age_sec``.

    Expects a ``fetched_ts`` (double epoch) column; priority gets a
    refresh boost relative to same-depth fresh discoveries so refreshes
    interleave rather than starve.
    """
    stale = fetched.filter(F.col("fetched_ts") < now_ts - max_age_sec)
    return (stale
            .withColumn("priority",
                        priority_of(F.col("depth")) * F.lit(refresh_boost))
            .withColumn("attempts", F.lit(0))  # a refresh starts over
            .select("url", "url_hash", "host", "depth", "priority",
                    "attempts"))


def reopen_in_frontier(frontier: DataFrame,
                       refresh: DataFrame) -> DataFrame:
    """Union refresh rows into the frontier, newest priority wins for
    duplicates already pending. Either frame may lack ``attempts``
    (a caller-built frontier); it then counts as 0."""
    for col in ("attempts",):
        if col not in frontier.columns:
            frontier = frontier.withColumn(col, F.lit(0))
        if col not in refresh.columns:
            refresh = refresh.withColumn(col, F.lit(0))
    return (frontier.unionByName(refresh)
            .groupBy("url_hash")
            .agg(F.min("url").alias("url"),
                 F.min("host").alias("host"),
                 F.min("depth").alias("depth"),
                 F.max("priority").alias("priority"),
                 F.min("attempts").alias("attempts"))
            .select("url", "url_hash", "host", "depth", "priority",
                    "attempts"))


def schedule_recrawl(spark, wh, after_round: int, max_age_sec: float,
                     now_ts: float | None = None,
                     refresh_boost: float = 0.5) -> int:
    """Pipeline maintenance step: re-open stale fetched URLs as a
    dedicated maintenance ROUND (``after_round + 1``), so the next crawl
    round refetches them.

    Fetch time per URL is the commit timestamp of the round that fetched
    it (ledger-side; the hot fetched table carries no extra column), and
    the newest fetch wins per URL. The refreshed frontier is written as
    a new round version with an EMPTY seen delta (``is_new=0``
    everywhere — recrawl re-opens URLs, it never forgets them) and its
    own ledger entry — the original rounds' deltas, stats and resume
    points stay intact.
    Intended to run every N rounds like seen compaction, not per round.
    Returns the number of re-opened URLs.
    """
    import time as _time

    from jsonextract_spark.crawl.pipeline import (
        _drop_stale_compact, _drop_uncommitted_round_state,
        _with_url_identity, load_frontier)

    now_ts = _time.time() if now_ts is None else now_ts
    round_ts = {r["round"]: float(r["ts"])
                for r in wh.ledger()["rounds"]
                if r.get("status") == "committed"}
    committed = [r for r in range(1, after_round + 1)
                 if wh.exists("fetched", r) and r in round_ts]
    if not committed:
        return 0
    # ONE scan relation over the committed round dirs (a per-round
    # Python union loop builds an O(rounds) plan — analysis time grows
    # with crawl age); ``basePath`` surfaces the hive ``round``
    # partition column, which a tiny broadcast-joined map turns into
    # the per-round commit timestamp. Robots-blocked ledger rows were
    # never fetched — nothing to refresh (they'd only be re-blocked).
    fetched = (spark.read.option("basePath", wh._path("fetched"))
               .parquet(*[wh._path("fetched", r) for r in committed])
               .filter(~F.coalesce(F.col("blocked"), F.lit(False))))
    ts_df = spark.createDataFrame(
        [(r, round_ts[r]) for r in committed],
        "round int, fetched_ts double")
    fetched = (fetched
               .join(F.broadcast(ts_df),
                     fetched["round"].cast("int") == ts_df["round"])
               .select("url", "depth", "fetched_ts"))
    latest = (fetched.groupBy("url")
              .agg(F.max("fetched_ts").alias("fetched_ts"),
                   F.min("depth").alias("depth")))
    refresh = refresh_candidates(_with_url_identity(latest), now_ts,
                                 max_age_sec, refresh_boost).cache()
    n = refresh.count()
    if n == 0:
        # nothing stale: no frontier rewrite, no round consumed
        refresh.unpersist()
        return 0
    rn = after_round + 1
    # if run_round(rn) crashed after some writes and the operator
    # resumes via schedule_recrawl instead of re-running the round,
    # committing rn would adopt the crashed attempt's debris: its
    # frontier_delta becomes the round's seen delta (URLs marked seen
    # but absent from the reopened frontier — never crawled), and its
    # fetched rows double-count into host stats and surface in
    # crawl_order / later recrawl ages. Same cleanup run_round
    # performs at entry, plus the compaction checkpoints a crashed
    # attempt of rn may have written.
    _drop_uncommitted_round_state(wh, rn)
    for tbl in ("seen_compact", "host_stats_compact"):
        _drop_stale_compact(wh, tbl, rn)
    frontier = load_frontier(spark, wh, after_round)
    merged = (reopen_in_frontier(frontier, refresh)
              .withColumn("is_new", F.lit(0)))
    # the merged frontier is written as a NEW FULL BASE (is_new=0
    # everywhere — recrawl re-opens URLs, it never forgets them), so
    # load_frontier's event replay restarts from this round
    # rebalance: this base is re-read by EVERY later round's replay —
    # without it the write inherits the union's task fan-out as tiny
    # files (guide §6; no observation rides this write, so the AQE
    # REBALANCE form is safe here)
    wh.save(merged, "frontier", rn, partition_by="is_new",
            rebalance=True)
    # nothing else to carry: reopened URLs stay in the exact seen set
    # (the gate's only input), and host_stats' loader reads a round
    # RANGE of the ledger
    wh.commit_round(rn, {"phase": "recrawl", "reopened": n})
    refresh.unpersist()
    return n
