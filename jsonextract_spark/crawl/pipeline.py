"""Crawl rounds: pop → politeness repartition → fetch → extract →
link discovery → seen update → frontier update → atomic commit.

Each round is one deterministic batch job (north_rule: batch-incremental,
checkpoint-resumable). State tables are versioned per round in the
Warehouse; a round only becomes visible at its commit record, so a kill
at any point resumes cleanly from the previous round.

Determinism contract (pinned by tests):
* pop order is a total order (priority DESC, depth ASC, url ASC);
* fetch is a pure function of url (synth corpus);
* all dedups/joins are key-based — nothing depends on partition count,
  so local[8] and local[32] produce byte-identical crawl ledgers.
"""

from __future__ import annotations

import argparse
import os
import shutil
import time
import uuid

from pyspark import InheritableThread
from pyspark.sql import (DataFrame, Observation, SparkSession, Window,
                         functions as F, types as T)

from jsonextract_spark.crawl import seen as seen_mod
from jsonextract_spark.crawl import synth
from jsonextract_spark.crawl.scheduler import (
    AUTO_HOT_MIN_PENDING, DEFAULT_POLITENESS_FLOOR_SEC, pop_batch,
    priority_of)
from jsonextract_spark.crawl.tables import (FRONTIER_SCHEMA, LEDGER_SCHEMA,
                                            ROBOTS_SCHEMA, SCHEMAS,
                                            SEEN_SCHEMA, Warehouse,
                                            local_table)
from jsonextract_spark.functions.udfs import url_identity_udf

DEFAULT_HOST_BUDGET = 5
DEFAULT_BATCH_SIZE = 512

# Bounded retry of deferred URLs (temporary robots blocks / transient
# fetch failures): a URL is re-frontiered at most MAX_DEFERS times,
# with its priority decayed per attempt so retries never starve fresh
# work; past the cap the URL is consumed like any other popped URL.
MAX_DEFERS = 3
DEFER_PRIORITY_DECAY = 0.5


def _write_parquet_driver_side(wh: Warehouse, table: str, round_no: int,
                               tbl):
    """Persist a tiny (driver-sized) arrow table as a warehouse round —
    used for the metrics table, a handful of scalar rows per round that
    are not worth a Spark write job."""
    import os

    import pyarrow.parquet as pq

    path = wh._path(table, round_no)
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def _write_metrics(wh: Warehouse, round_no: int, kv: dict):
    import pyarrow as pa

    tbl = pa.table({
        "batch_id": pa.array([round_no] * len(kv), pa.int32()),
        "key": pa.array(list(kv.keys()), pa.string()),
        "value": pa.array([float(v) for v in kv.values()], pa.float64()),
    })
    _write_parquet_driver_side(wh, "metrics", round_no, tbl)


def _codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM has compiled from generated code so far: its
    codegen cache misses (in a local master the executors share the
    driver's JVM). A round's ``codegen_compiles`` metric is the
    difference across the round. The class is looked up by its full
    name: one Py4J call, where attribute steps cost one per package."""
    metrics = getattr(spark.sparkContext._jvm,
                      "org.apache.spark.metrics.source.CodegenMetrics")
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def make_robots(spark: SparkSession) -> DataFrame:
    """Synthetic robots table: host -> allowed, one row per synthetic
    host, built through Arrow (``tables.local_table``): a
    ``LocalRelation``, which no Python worker computes and whose size
    Spark knows. Its size is the constant ``synth.HOSTS``, so it is
    broadcast unconditionally."""
    rows = [(f"host{h}.example", not synth.robots_disallowed_host(h))
            for h in range(synth.HOSTS)]
    return F.broadcast(
        local_table(spark, "host string, allowed boolean", rows))


def _with_url_identity(df: DataFrame, url_col: str = "url") -> DataFrame:
    """canonical url + murmur3 hash + host in ONE ArrowEvalPython node
    (url_identity_udf) — this runs on every candidate link every round,
    so the three identity columns must not cost three Python round
    trips."""
    return (df
            .withColumn("_uid", url_identity_udf(F.col(url_col)))
            .filter(F.col("_uid.url").isNotNull())
            .withColumn("url", F.col("_uid.url"))
            .withColumn("url_hash", F.col("_uid.url_hash"))
            .withColumn("host", F.col("_uid.host"))
            .drop("_uid"))


COMPACT_EVERY = 16


def load_seen(spark: SparkSession, wh: Warehouse, upto_round: int):
    """The seen set is stored as per-round DELTAS (append-only, like an
    Iceberg partition append): loading unions the newest
    ``seen_compact`` checkpoint with the ``is_new=1`` partitions of
    ``frontier`` and ``frontier_delta`` in the rounds after it. A round
    writes its delta to one of the two tables, never both (see
    ``tables``): crawl rounds to the delta, in the same job as the
    frontier update; init and sitemap rounds to their full base. A
    full rewrite per round would be O(total-crawled) I/O every round;
    unbounded delta lists would make round latency grow with crawl
    age — compaction (see ``compact_state``) bounds the union at
    COMPACT_EVERY+1 sources. An empty crawl (explicit seeds=[]) has
    no source: the read of no path is the empty seen set."""
    base = wh.newest("seen_compact", upto_round)
    paths = ([wh._path("seen_compact", base)] if base >= 0 else []) + [
        p for t in ("frontier", "frontier_delta")
        for p in wh.rounds(t, base + 1, upto_round, part="is_new=1")]
    return spark.read.schema(SEEN_SCHEMA).parquet(*paths)


def load_host_stats(spark: SparkSession, wh: Warehouse,
                    upto_round: int) -> DataFrame | None:
    """Cumulative per-host (crawled count, newest fetch ts) up to
    ``upto_round``, or None when nothing has been fetched yet.

    Derived from the ``fetched`` ledger every round already writes:
    per host, the count and newest ``warc_ts`` of its non-blocked
    rows — no second copy of the same facts is stored per round.
    Every COMPACT_EVERY rounds the running totals are folded into a
    ``host_stats_compact`` checkpoint, so a read aggregates the newest
    checkpoint plus at most COMPACT_EVERY ledger rounds after it,
    regardless of crawl age."""
    base = wh.newest("host_stats_compact", upto_round)
    ledger_paths = wh.rounds("fetched", base + 1, upto_round)
    ckpt = (wh.load(spark, "host_stats_compact", base)
            if base >= 0 else None)
    if not ledger_paths:
        # None, or a checkpoint alone (already host-distinct)
        return ckpt
    # one row per fetch, weighted 1.0: the sum below counts them
    # (integer-valued doubles, so the sum is exact) and folds them
    # into the checkpoint's totals in the same aggregate
    rows = (spark.read.schema(LEDGER_SCHEMA).parquet(*ledger_paths)
            .filter(~F.col("blocked"))
            .select("host", F.lit(1.0).alias("crawled"),
                    F.col("warc_ts").cast("double")
                    .alias("last_fetch_ts")))
    if ckpt is not None:
        rows = ckpt.unionByName(rows)
    return (rows.groupBy("host")
            .agg(F.sum("crawled").alias("crawled"),
                 F.max("last_fetch_ts").alias("last_fetch_ts")))


# A definitive robots verdict is reused for this long; a host whose
# newest definitive verdict is older is resolved again. RFC 9309 §2.4:
# a cached robots.txt SHOULD NOT be used for more than 24 hours.
ROBOTS_TTL_SEC = 24 * 3600.0


def load_robots(spark: SparkSession, wh: Warehouse, upto_round: int,
                hosts: DataFrame | None) -> DataFrame | None:
    """Each host's newest definitive robots verdict younger than
    ROBOTS_TTL_SEC as of ``upto_round`` (``tables.ROBOTS_SCHEMA``
    rows), or None when no robots table exists (a synthetic crawl).

    Sources are the newest ``robots_compact`` checkpoint plus the
    ``robots`` rounds after it, so a read spans at most COMPACT_EVERY
    rounds. ``hosts`` (a DataFrame with a ``host`` column; None keeps
    every host) restricts the rows with a semi-join BEFORE the
    newest-wins window: a round only needs its frontier's hosts, and
    windowing every verdict the crawl ever resolved would shuffle
    O(total hosts) rows every round. Non-definitive rows (robots.txt
    5xx / no response) are never returned: the round that resolved
    them used them, and the next round that sees the host resolves it
    again."""
    base = wh.newest("robots_compact", upto_round)
    paths = ([wh._path("robots_compact", base)] if base >= 0 else []
             ) + wh.rounds("robots", base + 1, upto_round)
    if not paths:
        return None
    rows = (spark.read.schema(ROBOTS_SCHEMA).parquet(*paths)
            .filter(F.col("definitive")
                    & (F.col("fetched_at")
                       >= F.lit(time.time() - ROBOTS_TTL_SEC))))
    if hosts is not None:
        rows = rows.join(hosts.select("host"), "host", "left_semi")
    newest = Window.partitionBy("host").orderBy(F.col("fetched_at").desc())
    return (rows.withColumn("_rn", F.row_number().over(newest))
            .filter(F.col("_rn") == 1).drop("_rn"))


def _resolve_round_robots(spark: SparkSession, wh: Warehouse,
                          round_no: int, frontier: DataFrame,
                          resolve) -> DataFrame:
    """The round's robots table (``tables.ROBOTS_SCHEMA``) for a fetch
    kernel that advertises a robots resolver: ``load_robots``'s
    reusable verdicts for the frontier's hosts, plus ``resolve`` run
    executor-side over one (host, url) row per other host — the URL
    gives the origin, as scheme and port are not in the host column.
    The resolved rows, non-definitive ones included, are saved as the
    round's ``robots`` table (one Spark action) and read back:
    consuming the resolver's plan itself would re-run its GETs."""
    hosts = frontier.groupBy("host").agg(F.min("url").alias("url"))
    known = load_robots(spark, wh, round_no - 1, hosts)
    todo = (hosts if known is None
            else hosts.join(known, "host", "left_anti"))
    wh.save(todo.mapInPandas(resolve, ROBOTS_SCHEMA), "robots", round_no)
    fresh = wh.load(spark, "robots", round_no)
    return fresh if known is None else known.unionByName(fresh)


def _validated_kernel(kernel):
    """Wrap a fetch kernel with the EXACTLY-ONE-ROW-PER-INPUT-ROW
    contract check, enforced executor-side at zero extra actions.
    Since r6 the round's removal list IS the fetched ledger, so a
    kernel that silently drops rows would leave those URLs pending
    forever — re-popped and re-dropped every round (pre-r6 the
    frontier anti-join consumed them silently instead, which was
    quiet data loss). Either way the kernel is broken; failing the
    round with a clear message beats both. Totals are compared
    per-task (the kernel is invoked once per task and may re-batch
    internally)."""
    def run(batches):
        counts = [0, 0]   # rows in, rows out

        def counted(bs):
            for pdf in bs:
                counts[0] += len(pdf)
                yield pdf

        counted_in = counted(batches)
        for out in kernel(counted_in):
            counts[1] += len(out)
            yield out
        # a kernel that returns WITHOUT exhausting its input would
        # otherwise pass the check over the consumed prefix while
        # silently dropping the remaining batches — drain what it left
        # unread so counts[0] reflects the task's true input
        for pdf in counted_in:
            pass
        if counts[0] != counts[1]:
            raise ValueError(
                f"fetch kernel emitted {counts[1]} rows for "
                f"{counts[0]} input rows — the fused kernel contract "
                f"is exactly one output row per popped URL (emit "
                f"blocked/retry rows instead of dropping; dropped "
                f"rows would stay in the frontier and be re-popped "
                f"every round)")

    return run


_FRONTIER_COLS = ["url", "url_hash", "host", "depth", "priority",
                  "attempts"]

def load_frontier(spark: SparkSession, wh: Warehouse,
                  upto_round: int) -> DataFrame:
    """The pending-URL frontier as of ``upto_round``, reconstructed
    from a BASE plus per-round deltas — the frontier is the biggest
    state table of all (10^10 rows at the design point), so rewriting
    it in full every round would be an O(frontier) write even for a
    round that popped 1k URLs.

    Per round the crawl records only:
    * additions — ``frontier_delta`` (deferred re-adds ``is_new=0`` +
      fresh discoveries ``is_new=1``, the same write that serves as
      the seen delta);
    * removals — the popped rows, which ARE the round's ``fetched``
      ledger (it carries ``url_hash``): a column-pruned parquet scan,
      no extra write at all.

    Reconstruction: the newest event per url_hash wins. Within a
    round a pop (removal) precedes a deferral re-add, so adds rank
    above removals of the same round (ev = 2*round+1 vs 2*round). The
    event set spans at most COMPACT_EVERY rounds (the base
    re-materializes on that cadence), so ``touched`` is O(rounds ×
    batch) — anti-joined against the base, which is never rewritten
    off-cadence.

    A full ``frontier`` table at a round (init, recrawl reopen,
    sitemap seeding or compaction checkpoint) is a base. The reads
    name only the rounds after it (``Warehouse.rounds``), with the
    table root as ``basePath`` so the ``round`` column survives."""
    base_round = wh.newest("frontier", upto_round)
    if base_round < 0:
        # nothing initialized: the read of no path is the empty frontier
        return spark.read.schema(FRONTIER_SCHEMA).parquet()
    base = (wh.load(spark, "frontier", base_round).drop("is_new")
            .select(*_FRONTIER_COLS))

    # the delta's is_new partitions (a round with a non-empty batch but
    # ZERO additions publishes a round dir with none)
    lo = base_round + 1
    add_paths = [p for part in ("is_new=0", "is_new=1")
                 for p in wh.rounds("frontier_delta", lo, upto_round,
                                    part=part)]
    rm_paths = wh.rounds("fetched", lo, upto_round)
    if not add_paths and not rm_paths:
        return base

    def _ranged(paths, table):
        return (spark.read.schema(SCHEMAS[table])
                .option("basePath", wh._path(table)).parquet(*paths))

    row_t = T.StructType([f for f in FRONTIER_SCHEMA.fields])
    adds = (_ranged(add_paths, "frontier_delta")
            .withColumn("_ev", F.col("round").cast("long") * 2 + 1)
            .select("url_hash", "_ev",
                    F.struct(*_FRONTIER_COLS).alias("_row"))
            if add_paths else None)
    rms = (_ranged(rm_paths, "fetched")
           .select("url_hash",
                   (F.col("round").cast("long") * 2).alias("_ev"),
                   F.lit(None).cast(row_t).alias("_row"))
           if rm_paths else None)
    events = None
    for part in (adds, rms):
        if part is not None:
            events = part if events is None else events.unionByName(part)
    # ONE aggregation resolves the whole replay (r10: the previous
    # agg + semi-join + anti-join form paid three sub-plans and two
    # broadcast builds per round): the newest event per url_hash is
    # picked with max_by — odd _ev (an addition) means the row is
    # alive and max_by carries its full frontier row; even _ev (a
    # removal) means dead. _ev values are unique per url_hash by
    # construction (a round's fresh/deferred slices are disjoint and a
    # url_hash is popped at most once per round), so max_by has no
    # ties. The base's anti-join needs only the TOUCHED key set, for
    # which the raw (non-distinct) event hashes are equivalent — an
    # anti-join build side needs no dedup — so the aggregate is
    # computed exactly once, for the alive rows.
    alive = ((events.groupBy("url_hash")
              .agg(F.max("_ev").alias("_last_ev"),
                   F.max_by("_row", "_ev").alias("_row")))
             .filter(F.col("_last_ev") % 2 == 1)
             .select("_row.*")
             if adds is not None else None)
    # No hint on the anti-join: Spark's size-based planner broadcasts
    # the touched key set while the event window is small (the base
    # is then never shuffled by reconstruction) and plans a shuffle on
    # url_hash when it is not. Equality of both paths is test-pinned.
    out = (base.join(events.select("url_hash"), "url_hash", "left_anti")
           .select(*_FRONTIER_COLS))
    return out if alive is None else out.unionByName(alive)


def compact_state(spark: SparkSession, wh: Warehouse,
                  round_no: int) -> int:
    """Every COMPACT_EVERY rounds, re-materialize the delta-layout
    states so their loaders read a bounded round range however old the
    crawl is (the IcebergLite analogue of Iceberg's rewrite_data_files).
    Returns the number of writes, 0 off the cadence:

    * ``frontier`` — the reconstructed frontier as a new full base, the
      one amortized O(frontier) write. Its rows are all ``is_new=0``:
      the round that discovered them already wrote their seen delta;
    * ``seen_compact`` — the seen set (checkpoint + deltas since);
    * ``host_stats_compact`` — the previous checkpoint folded with the
      ledger rounds since (none while nothing has been fetched);
    * ``robots_compact`` — ``load_robots`` over every host: the newest
      definitive in-TTL verdict per host (none in a synthetic crawl,
      which writes no robots table).

    Runs after the round's own writes, so the views include its
    events. All read plans are built before any checkpoint lands; the
    writes touch disjoint tables, so the checkpoints save on side
    threads while the frontier saves on this one.
    ``InheritableThread``: under PySpark's pinned-thread mode a raw
    thread would not inherit the round's job group (its jobs would
    escape ``spark_jobs`` and group cancellation) nor clean up its
    paired JVM thread. Every side thread is joined before this returns
    or raises, and the first side-thread error is re-raised here."""
    if round_no <= 0 or round_no % COMPACT_EVERY:
        return 0
    frontier = (load_frontier(spark, wh, round_no)
                .withColumn("is_new", F.lit(0)))
    side = {"seen_compact": load_seen(spark, wh, round_no),
            "host_stats_compact": load_host_stats(spark, wh, round_no),
            "robots_compact": load_robots(spark, wh, round_no, None)}
    errors: list[BaseException] = []

    def save(df, table):
        try:
            wh.save(df, table, round_no, rebalance=True)
        except BaseException as e:  # re-raised on the round thread
            errors.append(e)

    threads = [InheritableThread(target=save, args=(df, table),
                                 name=f"{table}-r{round_no}")
               for table, df in side.items() if df is not None]
    for th in threads:
        th.start()
    try:
        wh.save(frontier, "frontier", round_no, partition_by="is_new",
                rebalance=True)
    finally:
        for th in threads:
            th.join()
    if errors:
        raise errors[0]
    return 1 + len(threads)


def init_state(spark: SparkSession, wh: Warehouse, n_seeds: int,
               seed_list: list[str] | None = None):
    # `is not None`: an explicitly-empty seed list means an empty crawl,
    # not a silent fallback to the synthetic seeds
    urls = (seed_list if seed_list is not None
            else synth.seed_urls(n_seeds))
    seeds = local_table(spark, "url string", [(u,) for u in urls])
    frontier = (_with_url_identity(seeds)
                .dropDuplicates(["url_hash"])
                .withColumn("depth", F.lit(0))
                .withColumn("priority", priority_of(F.lit(0)))
                .withColumn("attempts", F.lit(0))
                .withColumn("is_new", F.lit(1)))
    # at init every frontier row is is_new=1: the whole table IS the
    # round-0 seen delta
    wh.save(frontier, "frontier", 0, partition_by="is_new",
            rebalance=True)
    wh.commit_round(0, {"phase": "init", "seeds": len(urls)})


def _resolve_politeness(fetch_kernel):
    """The politeness floor + hot-host set ``pop_batch`` resolves each
    host's ``eff_delay`` from: the fetch kernel's advertised
    ``default_delay_sec``/``hot_hosts`` attributes, the crawl's one
    politeness config. A custom kernel that advertises no floor gets
    the ONE shared ``scheduler.DEFAULT_POLITENESS_FLOOR_SEC`` (polite
    by default). The synthetic no-network corpus (``fetch_kernel=None``)
    is the only zero-floor path."""
    if fetch_kernel is None:
        return 0.0, None
    adv = getattr(fetch_kernel, "default_delay_sec", None)
    return ((DEFAULT_POLITENESS_FLOOR_SEC if adv is None else adv),
            getattr(fetch_kernel, "hot_hosts", None))


def run_round(spark: SparkSession, wh: Warehouse, round_no: int,
              host_budget: int = DEFAULT_HOST_BUDGET,
              batch_size: int = DEFAULT_BATCH_SIZE,
              fetch_kernel=None,
              auto_hot_min_pending: int | None = None,
              archive_warc: str | None = None) -> dict:
    """Execute round ``round_no`` (requires round_no-1 committed).

    Politeness comes from ``fetch_kernel``'s advertised config (see
    ``run_crawl``): ``pop_batch`` turns it into each popped row's
    ``eff_delay``, which routes a delayed host to one fetch task and
    paces the kernel's requests to it.

    Robots: a kernel that advertises a robots resolver (``.robots``,
    as ``fetch_http.make_fetch_extract_kernel`` does) gets real
    verdicts as crawl state. The round reuses ``load_robots``'s
    verdicts for its frontier hosts, resolves the other hosts and
    saves them as its ``robots`` table before the pop (see
    ``_resolve_round_robots``). ``pop_batch`` gates on each host's
    ``allowed`` and ``crawl_delay``; the popped batch also carries the
    host's ``robots_txt`` and ``definitive`` for the kernel's per-path
    check. A kernel without a resolver crawls under the synthetic
    ``make_robots`` table.

    ``archive_warc`` (a directory) enables FETCH-TIME archival: the
    fetch kernel tees every fetched body into
    ``<archive_warc>/round=N/part-*.warc.gz`` shards inside the fused
    fetch pass itself — no second fetch, no extra Spark action (the
    write rides the ledger action), and the round's commit record
    records the shard manifest. Requires a kernel exposing
    ``bind_archive`` (both built-in kernels do).

    Fixed Spark-ACTION budget per non-empty round (recorded as the
    ``spark_actions`` metric, counted at the call sites): TWO — the
    fused pop+fetch+extract ledger write (A1) and the frontier DELTA
    save (A2: this round's additions only, whose ``is_new=1`` slice
    doubles as the seen delta; removals ride the ledger's url_hash
    column — see ``load_frontier``) — plus the amortized writes of
    ``compact_state`` (frontier base + seen + host_stats checkpoints,
    plus the robots checkpoint in a live crawl) every COMPACT_EVERY
    rounds. A round whose kernel advertises a robots resolver runs one
    more: the ``robots`` table save before A1. Host stats need no
    write of their own: ``load_host_stats`` derives them from the
    ledger.
    An EMPTY round (A1 popped nothing) runs A1 only (after the robots
    save in a live round), plus compaction on the cadence: it writes no frontier state, and its metrics,
    commit record (marked ``empty``) and job-group release go through
    the same tail as any round.
    Every per-round write is O(round output); the only O(total-state)
    writes are the amortized re-materializations. All scalar
    round metrics (batch size, objects, fetched/blocked/deferred
    splits, n_new) ride the first two writes for FREE via
    ``Dataset.observe`` — CollectMetrics nodes aggregate inside the
    write job itself, so there are no counting actions and no
    driver-side re-reads of just-written parquet. The separate
    ``spark_jobs`` metric is what the Spark scheduler counted for the
    round's job group — with AQE enabled that is one job per
    materialized query stage, NOT the action count.
    ``codegen_compiles`` counts the classes the JVM compiled from
    generated code during the round: 0 once the session's codegen
    cache holds the round's plans (see ``session``). The ``sec_*``
    metrics split the round's wall clock at its action boundaries:
    in a live round, ``sec_robots`` is the robots table save;
    ``sec_pop_fetch_extract`` is the ledger write (A1); on non-empty
    rounds, ``sec_driver_plan`` is the driver building the
    link-discovery, gate and delta plans (no Spark action runs in it)
    and ``sec_frontier_seen`` is the frontier-delta write (A2), which
    runs the seen gate; and, on compaction rounds only,
    ``sec_compact`` is ``compact_state``. Driver-side action latency
    is what bounds small-round throughput; at production batch sizes
    the same two actions amortize over millions of URLs."""
    t0 = time.time()
    sc = spark.sparkContext
    compiles0 = _codegen_compiles(spark)
    # unique per call: a second crawl in the same session must not count
    # the jobs an earlier crawl ran under the same round number
    job_group = f"crawl-round-{round_no}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(job_group, f"crawl round {round_no}")
    prev = round_no - 1
    # a failed earlier attempt of THIS round may have left state-table
    # debris the delta-layout loaders would otherwise trust
    wh.drop_round(round_no)
    frontier = load_frontier(spark, wh, prev)
    seen = load_seen(spark, wh, prev)
    host_stats = load_host_stats(spark, wh, prev)
    secs: dict = {}
    n_actions = 0
    resolve_robots = getattr(fetch_kernel, "robots", None)
    rules = None
    if resolve_robots is None:
        robots = make_robots(spark)
    else:
        sc.setJobDescription(f"r{round_no} robots")
        table = _resolve_round_robots(spark, wh, round_no, frontier,
                                      resolve_robots)
        robots = table.select("host", "allowed", "crawl_delay")
        rules = table.select("host", "robots_txt", "definitive")
        n_actions += 1
        secs["sec_robots"] = time.time() - t0
    t_pop = time.time()

    # 1. pop (robots gate + delay eligibility + host-budget discount +
    #    salted per-host top-k + global cap). The pop decides each
    #    host's delay once, as the batch's ``eff_delay`` column, from
    #    the fetch kernel's advertised floor and hot-host list; the
    #    routing below and the kernel's pacer both read that column.
    #    Only the synthetic no-network corpus (fetch_kernel=None) runs
    #    with floor 0, where a floor would empty consecutive rounds at
    #    bench cadence with nothing to be polite to.
    default_delay_sec, hot_hosts = _resolve_politeness(fetch_kernel)
    # The pop adds no hints to its robots and host_stats joins: both
    # tables grow with hosts (unbounded at the design point), and Spark
    # sizes them — broadcast while small, shuffle past the engine
    # threshold.
    batch = pop_batch(frontier, robots, host_budget, batch_size,
                      host_stats=host_stats, now_ts=time.time(),
                      default_delay_sec=default_delay_sec,
                      hot_hosts=hot_hosts,
                      auto_hot_min_pending=(
                          auto_hot_min_pending
                          if auto_hot_min_pending is not None
                          else AUTO_HOT_MIN_PENDING))
    if rules is not None:
        # the kernel's per-path check reads each host's rules: joined
        # onto the popped batch (O(batch)), never onto the frontier
        batch = batch.join(rules, "host", "left")
    batch = batch.withColumn("batch_id", F.lit(round_no)).cache()

    # 2. politeness repartition: salted host key spreads an operator-
    #    approved hot host over slots while keeping slot assignment
    #    deterministic. Hosts with an effective delay (a robots
    #    Crawl-delay/Request-rate ask, or the default floor when robots
    #    is silent) are NOT salted — their URLs land in one task so the
    #    kernel's per-task pacer is the host's real clock (salting
    #    would let up to 8 tasks hit the host concurrently).
    salt = (F.when(F.col("eff_delay").isNotNull(), F.lit(0))
            .otherwise(F.pmod(F.col("url_hash"), F.lit(8))))
    fetch_input = batch.repartition(
        max(spark.sparkContext.defaultParallelism, 4),
        F.col("host"), salt)

    # 3+4. FUSED fetch + extract + link discovery: one Arrow stage, one
    # Python worker per core (see PLANS.md on oversubscription). The
    # kernel is pluggable: synth (deterministic corpus, the default) or
    # fetch_http.make_fetch_extract_kernel (live HTTP).
    kernel = fetch_kernel or synth.fetch_extract_partition
    warc_round_dir = None
    if archive_warc:
        binder = getattr(kernel, "bind_archive", None)
        if binder is None:
            raise ValueError(
                "archive_warc requires a fetch kernel exposing "
                "bind_archive (both built-in kernels do; a custom "
                "kernel must provide bind_archive(shard_dir) -> "
                "kernel, writing fetched bodies via warc.ShardWriter)")
        warc_round_dir = os.path.join(archive_warc,
                                      f"round={round_no}")
        # a failed earlier attempt of THIS round may have published
        # shards; a re-run could repartition differently and leave
        # stale higher-numbered shards next to fresh ones
        shutil.rmtree(warc_round_dir, ignore_errors=True)
        kernel = binder(warc_round_dir)
    enriched = (fetch_input
                .mapInPandas(_validated_kernel(kernel),
                             synth.FETCH_EXTRACT_SCHEMA)
                .withColumn("partition_id", F.spark_partition_id())
                .cache())

    # The repartition coalesces the ledger write from one-file-per-
    # fetch-task (32+) to a parallelism-scaled handful — every later
    # round's replay scans this round range, and its task count is
    # pure file count (guide §6; r10 profile). It must sit BELOW the
    # observation: AQE's empty-relation propagation removes a
    # CollectMetrics node that ends up under a materialized-empty
    # exchange, so an observation below an added exchange loses its
    # row (or silently reads 0) on empty rounds — measured on this
    # Spark; the observe node must stay in the final write stage.
    fetched = enriched.select(
        "batch_id", "rank", "url", "url_hash", "host", "depth",
        "warc_ts",
        "n_objects", F.size("links").alias("n_links"), "bytes",
        "partition_id", "blocked", "retry").repartition(
            max(spark.sparkContext.defaultParallelism // 8, 1))
    # ONE job runs pop + politeness + fetch + extract and writes the
    # ledger; batch counts ride the write itself as a CollectMetrics
    # observation (aggregated executor-side during the write — no
    # counting action, no driver re-read of the written parquet).
    # ``blocked`` rows are popped URLs the robots per-path check
    # stopped before the GET — they count toward the processed batch
    # (so the frontier diff subtracts them; an all-blocked batch must
    # not republish the frontier unchanged and stall the crawl) but
    # not toward fetch metrics or host budgets. ``retry`` rows are
    # marked by a NON-definitive verdict (robots 5xx/unreachable or a
    # transient page-fetch failure): those still under the attempts
    # cap are returned to the frontier below instead of being consumed.
    obs_fetch = Observation(f"fetched-r{round_no}")
    fetched = fetched.observe(
        obs_fetch,
        F.count(F.lit(1)).alias("n_batch"),
        F.coalesce(F.sum("n_objects"), F.lit(0)).alias("n_objects"),
        F.coalesce(F.sum((~F.col("blocked") & ~F.col("retry"))
                         .cast("long")), F.lit(0)).alias("n_fetched"),
        F.coalesce(F.sum((F.col("blocked") & ~F.col("retry"))
                         .cast("long")), F.lit(0)).alias("n_blocked"),
        F.coalesce(F.sum(F.col("retry").cast("long")),
                   F.lit(0)).alias("n_retry_marked"))
    sc.setJobDescription(f"r{round_no} A1 ledger: pop+fetch+extract")
    wh.save(fetched, "fetched", round_no)
    n_actions += 1
    om = obs_fetch.get
    n_batch, n_objects = int(om["n_batch"]), int(om["n_objects"])
    n_fetched, n_blocked = int(om["n_fetched"]), int(om["n_blocked"])
    n_retry_marked = int(om["n_retry_marked"])
    t_fetch = time.time()
    secs["sec_pop_fetch_extract"] = t_fetch - t_pop
    n_new = n_deferred = 0
    # try/finally: a failed write must not leak the round's cached RDD
    # blocks — the caches are dropped on the error path before the
    # exception propagates.
    try:
        if n_batch:
            # 5. link discovery -> candidate identity: canonical url,
            #    hash and host in one ArrowEvalPython node
            #    (_with_url_identity, which drops non-crawlable hrefs);
            #    depth is already the CANDIDATE depth (parent + 1).
            #    Duplicate hashes are resolved by the gate's JVM
            #    aggregate below.
            cand = _with_url_identity(
                enriched.select((F.col("depth") + 1).alias("depth"),
                                F.explode("links").alias("raw_url")),
                "raw_url")

            # 6. seen-set gate: JVM per-hash min aggregate and exact
            #    anti-join (seen.gate_new_urls). The gate ALSO excludes
            #    URLs already pending in the frontier, for free: every
            #    pending row entered the frontier either through an
            #    is_new=1 seen-delta write (round-0 seeds, fresh
            #    discoveries) or while already seen (deferred re-adds,
            #    recrawl reopens), so pending ⊆ seen and the exact seen
            #    anti-join covers both. The pre-r6 code carried a second
            #    anti-join against the full frontier here — provably a
            #    no-op by the same argument, and an O(frontier) scan per
            #    round at the design point.
            fresh = seen_mod.gate_new_urls(cand, seen)
            fresh = (fresh
                     .withColumn("priority", priority_of(F.col("depth")))
                     .withColumn("attempts", F.lit(0))
                     .select("url", "url_hash", "host", "depth",
                             "priority", "attempts"))

            # 7. frontier DELTA in ONE write job: only this round's
            #    additions (deferred re-adds + fresh discoveries),
            #    hive-partitioned on is_new so the fresh slice doubles
            #    as the round's append-only seen delta (see
            #    load_seen). Removals need NO write at all — the
            #    popped rows are already in the fetched ledger (url_hash
            #    column), and ``load_frontier`` replays additions
            #    against removals per url_hash. The pre-r6 form
            #    rewrote the ENTIRE frontier here (remaining ∪ deferred
            #    ∪ fresh) — O(frontier) write I/O per round, the
            #    largest state table of all at 10^10-URL scale.
            # temporarily-blocked URLs (robots unreachable / transient
            # fetch failure) go BACK into the frontier for a later round
            # — they were popped but not consumed. Bounded: at most
            # MAX_DEFERS re-adds per URL (the ledger's retry rows past
            # the cap stay consumed, like any popped URL). Priority is
            # REBUILT from the depth base so the decay is exactly
            # DEFER_PRIORITY_DECAY^attempts — the popped row's priority
            # column already carries pop_batch's host-budget discount,
            # and decaying that value would compound the discount into
            # the decay on every retry.
            deferred = (enriched.filter("retry").select("url")
                        .join(batch.select("url", "url_hash", "host",
                                           "depth", "attempts"), "url")
                        .filter(F.col("attempts") < F.lit(MAX_DEFERS))
                        .select("url", "url_hash", "host", "depth",
                                (priority_of(F.col("depth"))
                                 * F.pow(F.lit(DEFER_PRIORITY_DECAY),
                                         F.col("attempts") + 1))
                                .alias("priority"),
                                (F.col("attempts") + 1)
                                .alias("attempts")))
            # The repartition coalesces the delta write from one file
            # per union-branch task (64+ tiny files, re-listed and
            # re-scanned by every later replay — the r10 profile
            # measured the replay's event scan as a 56-task stage
            # driven purely by file count) to a parallelism-scaled
            # handful. Both round metrics (n_new = fresh rows,
            # n_deferred = URLs actually RE-FRONTIERED, i.e. retry rows
            # under the attempts cap — counting every retry-marked
            # ledger row would report a URL as deferred on the very
            # round it is dropped) ride this one write as a single
            # CollectMetrics over the is_new column, placed ABOVE the
            # repartition: AQE's empty-relation propagation removes
            # observation nodes that sit under a materialized-empty
            # exchange (measured: the all-blocked round then loses its
            # n_new/n_deferred row), so the observe must stay in the
            # final write stage.
            frontier_delta = (
                deferred.withColumn("is_new", F.lit(0))
                .unionByName(fresh.withColumn("is_new", F.lit(1)))
                .repartition(max(
                    spark.sparkContext.defaultParallelism // 8, 1)))

            t_links = time.time()
            # ONE write job runs the whole gate pipeline and publishes
            # the frontier; n_new and n_deferred ride the SAME action
            # as CollectMetrics observations (no separate materializing
            # count(), no driver re-read of the written is_new=1
            # partition). ``fresh`` is not cached: this write is its
            # only reader.
            obs_front = Observation(f"frontier-r{round_no}")
            frontier_delta = frontier_delta.observe(
                obs_front,
                F.coalesce(F.sum("is_new"), F.lit(0)).alias("n_new"),
                F.coalesce(F.sum((F.col("is_new") == 0).cast("long")),
                           F.lit(0)).alias("n_deferred"))
            sc.setJobDescription(f"r{round_no} A2 gate+frontier delta")
            wh.save(frontier_delta, "frontier_delta", round_no,
                    partition_by="is_new")
            n_actions += 1
            n_new = int(obs_front.get["n_new"])
            n_deferred = int(obs_front.get["n_deferred"])
            secs["sec_driver_plan"] = t_links - t_fetch
            secs["sec_frontier_seen"] = time.time() - t_links
        # An empty round writes no delta and no ledger rows: the
        # loaders read a round RANGE, so it carries state forward for
        # free. Compaction follows the round's own writes and keeps
        # its cadence through empty stretches, so the loaders' source
        # lists stay bounded; it must land before the commit record
        # makes the round visible.
        t_state = time.time()
        n_compact = compact_state(spark, wh, round_no)
        if n_compact:
            n_actions += n_compact
            secs["sec_compact"] = time.time() - t_state
    finally:
        batch.unpersist()
        enriched.unpersist()

    # release the job group — otherwise later driver-side jobs
    # (recrawl, the next caller on this thread) get attributed to this
    # round's stale group
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(job_group))
    sc.setLocalProperty("spark.jobGroup.id", None)
    sec = time.time() - t0
    _write_metrics(wh, round_no, {
        "fetched": float(n_fetched), "objects": float(n_objects),
        "robots_blocked": float(n_blocked),
        # retry-marked ledger rows vs URLs actually re-frontiered; the
        # difference is final-attempt rows consumed at the cap
        "retry_marked": float(n_retry_marked),
        "robots_deferred": float(n_deferred),
        "new_urls": float(n_new), "sec": sec,
        "spark_actions": float(n_actions),
        "spark_jobs": float(n_jobs),
        "codegen_compiles": float(_codegen_compiles(spark) - compiles0),
        **secs})
    # ``batch`` = this round's TOTAL ledger rows (popped URLs incl.
    # blocked/retry), the replay removal count
    commit_info = {"fetched": n_fetched, "new": n_new,
                   "blocked": n_blocked,
                   "deferred": n_deferred,
                   "batch": n_batch,
                   "sec": round(sec, 3)}
    if not n_batch:
        commit_info["empty"] = True
    if warc_round_dir is not None:
        # shard manifest: the archive write rode the ledger action
        # (executor-side, atomic per shard); the commit record lists
        # what was published so operators can audit/replicate round
        # output
        shards = sorted(
            f for f in (os.listdir(warc_round_dir)
                        if os.path.isdir(warc_round_dir) else [])
            if f.endswith(".warc.gz"))
        commit_info["warc_dir"] = warc_round_dir
        commit_info["warc_shards"] = len(shards)
        commit_info["warc_bytes"] = int(sum(
            os.path.getsize(os.path.join(warc_round_dir, f))
            for f in shards))
    wh.commit_round(round_no, commit_info)
    return {"fetched": n_fetched, "new": n_new, "objects": n_objects,
            "blocked": n_blocked, "deferred": n_deferred,
            "retry_marked": n_retry_marked,
            "sec": sec, "spark_actions": n_actions,
            "spark_jobs": n_jobs}


def _check_layout(wh: Warehouse):
    """Refuse to resume a warehouse in a layout this code does not
    read. There is one layout: per-round commit records, seen deltas
    in the frontier tables' ``is_new=1`` partitions, and host_stats
    checkpoints plus the ledger. A legacy single ``seen`` or
    ``host_stats`` table would be ignored silently, losing its state,
    and so would a legacy ``_ledger.json`` round ledger: its rounds
    would read as uncommitted and the crawl would restart. Old
    ``seen_filter`` dirs (of any codec) are harmless: nothing reads
    them."""
    problems = [f"legacy {t!r} table" for t in ("seen", "host_stats")
                if wh.exists(t)]
    if os.path.exists(os.path.join(wh.root, "_ledger.json")):
        problems.append("legacy '_ledger.json' round ledger")
    if problems:
        raise ValueError("unsupported warehouse layout: "
                         + "; ".join(problems))


def run_crawl(spark: SparkSession, warehouse: str, rounds: int,
              n_seeds: int = 100, host_budget: int = DEFAULT_HOST_BUDGET,
              batch_size: int = DEFAULT_BATCH_SIZE,
              resume: bool = False,
              fetch_kernel=None,
              seeds: list[str] | None = None,
              auto_hot_min_pending: int | None = None,
              archive_warc: str | None = None) -> list[dict]:
    """Run (or resume) a crawl to ``rounds`` committed rounds.

    ``fetch_kernel`` swaps the fused fetch+extract stage (default: the
    deterministic synthetic corpus; pass
    ``fetch_http.make_fetch_extract_kernel()`` for live HTTP);
    ``seeds`` overrides the synthetic seed list with explicit URLs.
    Robots follow the kernel too: one that advertises a robots
    resolver (``.robots``) gets real verdicts, kept as the per-round
    ``robots`` table (see ``run_round``); any other kernel crawls
    under the synthetic ``make_robots`` table.
    The politeness config is the fetch kernel's advertised
    ``default_delay_sec`` (the per-host floor for hosts whose
    robots.txt does not ask for a rate) and ``hot_hosts`` (hosts with
    operator clearance for full-rate salted fetching): ``make_fetch_extract_kernel`` attaches them to the
    kernel it returns, and a synthetic kernel gets them set as
    attributes (see ``main``). A custom kernel that advertises no
    floor gets ``scheduler.DEFAULT_POLITENESS_FLOOR_SEC``, and only
    the synthetic no-network corpus (``fetch_kernel=None``) runs with
    floor 0 (see ``_resolve_politeness``). ``archive_warc`` tees every
    fetched body into per-round WARC shards inside the fetch pass (see
    ``run_round``); each round's commit record records the shard
    manifest."""
    wh = Warehouse(warehouse)
    if resume:
        _check_layout(wh)
    else:
        wh.destroy()
        wh = Warehouse(warehouse)
    start = wh.last_committed_round()
    if start < 0:
        init_state(spark, wh, n_seeds, seed_list=seeds)
        start = 0
    stats = []
    for r in range(start + 1, rounds + 1):
        s = run_round(spark, wh, r, host_budget, batch_size,
                      fetch_kernel=fetch_kernel,
                      auto_hot_min_pending=auto_hot_min_pending,
                      archive_warc=archive_warc)
        stats.append({"round": r, **s})
    return stats


def crawl_order(spark: SparkSession, warehouse: str) -> DataFrame:
    """The reproducible crawl ledger: (batch_id, rank, url). Robots-
    blocked ledger rows are excluded — the ordering is of actual
    fetches.

    ONE scan relation over every committed round dir: the previous
    per-round Python union loop built an O(rounds) logical plan, so at
    thousands of rounds driver-side analysis time grew with crawl age.
    Passing the committed leaf dirs (rather than the bare table root)
    both skips crashed ``.tmp-`` dirs and uncommitted rounds, and
    keeps the plan a single relation whose node count is independent
    of round count. With no committed round it reads no path: the
    empty ledger."""
    wh = Warehouse(warehouse)
    paths = wh.rounds("fetched", 1, wh.last_committed_round())
    df = (spark.read.schema(LEDGER_SCHEMA).parquet(*paths)
          .filter(~F.coalesce(F.col("blocked"), F.lit(False))))
    return df.select("batch_id", "rank", "url").orderBy("batch_id", "rank")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--warehouse", default="/tmp/jsx_warehouse")
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--host-budget", type=int, default=DEFAULT_HOST_BUDGET)
    ap.add_argument("--batch-size", type=int, default=DEFAULT_BATCH_SIZE)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--default-delay-sec", type=float, default=None,
                    help="politeness floor for hosts whose robots.txt "
                         "is silent about rate (default: 1s with "
                         "--live, 0 on the synthetic corpus)")
    ap.add_argument("--hot-host", action="append", default=None,
                    help="host with operator clearance for full-rate "
                         "salted fetching (repeatable)")
    ap.add_argument("--recrawl-max-age", type=float, default=None,
                    help="after the crawl, re-open fetched URLs older "
                         "than this many seconds as a maintenance round")
    ap.add_argument("--live", action="store_true",
                    help="crawl live HTTP (fetch_http kernel, with "
                         "real robots.txt verdicts kept as the "
                         "warehouse's robots table) instead of the "
                         "synthetic corpus; --seeds-url is then "
                         "required")
    ap.add_argument("--seeds-url", action="append", default=None,
                    help="explicit seed URL for --live (repeatable)")
    ap.add_argument("--seed-sitemaps", action="store_true",
                    help="after the crawl, discover sitemap URLs for "
                         "the frontier's hosts (robots Sitemap lines, "
                         "sitemapindex one level) and seed the unseen "
                         "ones as a maintenance round; requires "
                         "--live (the synthetic corpus has no real "
                         "hosts to fetch sitemaps from)")
    ap.add_argument("--auto-hot-min-pending", type=int, default=None,
                    help="pending-frontier row count at which a host "
                         "is auto-treated as hot for the round (salted"
                         " delay-free routing; robots asks still win; "
                         f"default {AUTO_HOT_MIN_PENDING})")
    ap.add_argument("--archive-warc", default=None,
                    help="directory for fetch-time WARC archival: "
                         "every fetched body is teed into "
                         "<dir>/round=N/part-*.warc.gz shards inside "
                         "the fetch pass (no second fetch); the "
                         "ledger records each round's shard manifest")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    if args.seed_sitemaps and not args.live:
        ap.error("--seed-sitemaps requires --live (synthetic hosts "
                 "have no sitemaps to fetch)")
    if args.live and not args.seeds_url:
        ap.error("--live requires at least one --seeds-url")

    from jsonextract_spark.session import build_session
    spark = build_session("jsx-crawl", master=args.master)
    seed_list = None
    if args.live:
        from jsonextract_spark.crawl.fetch_http import (
            make_fetch_extract_kernel)
        kernel_kwargs = {"hot_hosts": args.hot_host}
        if args.default_delay_sec is not None:
            kernel_kwargs["default_delay_sec"] = args.default_delay_sec
        fetch_kernel = make_fetch_extract_kernel(**kernel_kwargs)
        seed_list = args.seeds_url
    else:
        # the synthetic corpus's politeness config rides the kernel too
        fetch_kernel = synth.make_fetch_extract()
        fetch_kernel.default_delay_sec = args.default_delay_sec or 0.0
        fetch_kernel.hot_hosts = args.hot_host
    stats = run_crawl(spark, args.warehouse, args.rounds, args.seeds,
                      args.host_budget, args.batch_size,
                      resume=args.resume,
                      seeds=seed_list, fetch_kernel=fetch_kernel,
                      auto_hot_min_pending=args.auto_hot_min_pending,
                      archive_warc=args.archive_warc)
    for s in stats:
        print(s)
    if args.recrawl_max_age is not None:
        from jsonextract_spark.crawl.recrawl import schedule_recrawl
        wh = Warehouse(args.warehouse)
        n = schedule_recrawl(spark, wh, wh.last_committed_round(),
                             args.recrawl_max_age)
        print({"phase": "recrawl", "reopened": n})
    if args.seed_sitemaps:
        from jsonextract_spark.crawl.sitemaps import seed_from_sitemaps
        wh = Warehouse(args.warehouse)
        n = seed_from_sitemaps(spark, wh, wh.last_committed_round())
        print({"phase": "sitemap", "seeded": n})


if __name__ == "__main__":
    main()
