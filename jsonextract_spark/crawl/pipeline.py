"""Crawl rounds: pop → politeness repartition → fetch → extract →
link discovery → seen update → frontier update → atomic commit.

Each round is one deterministic batch job (north_rule: batch-incremental,
checkpoint-resumable). State tables are versioned per round in the
Warehouse; a round only becomes visible at the ledger commit, so a kill
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
from pyspark.sql import (DataFrame, Observation, SparkSession,
                         functions as F, types as T)

from jsonextract_spark.crawl import seen as seen_mod
from jsonextract_spark.crawl import synth
from jsonextract_spark.crawl.scheduler import (
    AUTO_HOT_MIN_PENDING, DEFAULT_POLITENESS_FLOOR_SEC, pop_batch,
    priority_of)
from jsonextract_spark.crawl.tables import FRONTIER_SCHEMA, Warehouse
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


def make_robots(spark: SparkSession) -> DataFrame:
    """Synthetic robots table: host -> allowed, one row per synthetic
    host. A table built from a local list carries no size statistics,
    so Spark would plan its join as a shuffle; its size is the
    constant ``synth.HOSTS``, so it is broadcast unconditionally."""
    rows = [(f"host{h}.example", not synth.robots_disallowed_host(h))
            for h in range(synth.HOSTS)]
    return F.broadcast(
        spark.createDataFrame(rows, "host string, allowed boolean"))


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


def _seen_delta_path(wh: Warehouse, round_no: int) -> str:
    """The per-round seen delta IS the ``is_new=1`` partition of the
    round's frontier DELTA — written in the same job as the frontier
    update itself (one write job instead of two per round). Rounds
    that write a full frontier base instead of a delta — init (the
    round-0 seeds) and sitemap rounds — keep their seen delta in the
    base's ``is_new=1`` partition, which the fallback reads."""
    import os

    p = os.path.join(wh._path("frontier_delta", round_no), "is_new=1")
    if os.path.exists(p) or wh.exists("frontier_delta", round_no):
        return p
    return os.path.join(wh._path("frontier", round_no), "is_new=1")


COMPACT_EVERY = 16


def load_seen(spark: SparkSession, wh: Warehouse, upto_round: int):
    """The seen set is stored as per-round DELTAS (append-only, like an
    Iceberg partition append): loading unions the ``is_new=1`` frontier
    partitions since the last compaction checkpoint, plus that
    checkpoint. A full rewrite per round would be O(total-crawled) I/O
    every round; unbounded delta lists would make round latency grow
    with crawl age — compaction (see ``maybe_compact_seen``) bounds the
    union at COMPACT_EVERY+1 sources."""
    import os

    base_round = -1
    for r in range(upto_round - upto_round % COMPACT_EVERY,
                   -1, -COMPACT_EVERY):
        if wh.exists("seen_compact", r):
            base_round = r
            break
    paths = ([wh._path("seen_compact", base_round)]
             if base_round >= 0 else [])
    for r in range(base_round + 1, upto_round + 1):
        p = _seen_delta_path(wh, r)
        if os.path.exists(p):
            paths.append(p)
    if not paths:
        # empty crawl (explicit seeds=[]): nothing seen yet
        return spark.createDataFrame([], "url_hash long")
    return spark.read.parquet(*paths).select("url_hash")


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
    base = None
    for r in range(upto_round, -1, -1):
        # bounded scan: once compaction has run, a checkpoint exists
        # within COMPACT_EVERY rounds of ``upto_round``; before that,
        # upto_round itself is < COMPACT_EVERY
        if wh.exists("host_stats_compact", r):
            base = r
            break
    start = base + 1 if base is not None else 1
    ledger_paths = [wh._path("fetched", r)
                    for r in range(start, upto_round + 1)
                    if wh.exists("fetched", r)]
    ckpt = (wh.load(spark, "host_stats_compact", base)
            .select("host", F.col("crawled").cast("double")
                    .alias("crawled"), "last_fetch_ts")
            if base is not None else None)
    if not ledger_paths:
        # None, or a checkpoint alone (already host-distinct)
        return ckpt
    # one row per fetch, weighted 1.0: the sum below counts them
    # (integer-valued doubles, so the sum is exact) and folds them
    # into the checkpoint's totals in the same aggregate
    rows = (spark.read.parquet(*ledger_paths)
            .filter(~F.col("blocked"))
            .select("host", F.lit(1.0).alias("crawled"),
                    F.col("warc_ts").cast("double")
                    .alias("last_fetch_ts")))
    if ckpt is not None:
        rows = ckpt.unionByName(rows)
    return (rows.groupBy("host")
            .agg(F.sum("crawled").alias("crawled"),
                 F.max("last_fetch_ts").alias("last_fetch_ts")))


def _drop_uncommitted_round_state(wh: Warehouse, round_no: int):
    """Delete state-table debris a FAILED earlier attempt of
    ``round_no`` may have left (the round died after some writes but
    before its ledger commit — a committed round is never re-entered).
    The non-empty path overwrites ``fetched``/``frontier_delta``
    atomically anyway, but the EMPTY path writes no
    ``frontier_delta``, and the loaders consult directory existence: a
    surviving ``frontier_delta`` would commit phantom additions (and
    phantom seen entries) with the crashed attempt's removals erased,
    and a surviving full ``frontier`` base from a crashed
    ``schedule_recrawl`` would hijack the replay base, masking every
    event of the re-run round (both reproduced in review). ``fetched``
    debris matters too: if the re-run pops a DIFFERENT batch (the
    crawl-delay eligibility gate is clock-dependent) or commits empty,
    the crashed attempt's ledger rows become phantom removals in later
    rounds' frontier replay, phantom fetches in ``load_host_stats``
    and phantom pages in crawl_order/recrawl —
    the non-empty path overwrites it atomically, but only with the
    same-shape write. Compaction checkpoints get the same treatment at
    their own write sites (``_drop_stale_compact``), and
    ``schedule_recrawl`` runs both cleanups before committing its
    maintenance round.

    Guard: this deletes the round's ``fetched`` ledger rows, so it
    refuses to run on a round the ledger already shows COMMITTED — a
    caller holding a stale round number (e.g. ``schedule_recrawl``
    with an out-of-date ``after_round``) would otherwise silently
    erase a committed round's replay removals, re-opening
    already-crawled URLs in every later round's frontier."""
    import shutil

    committed = {r["round"] for r in wh.ledger()["rounds"]
                 if r.get("status") == "committed"}
    if round_no in committed:
        raise ValueError(
            f"refusing to drop state for round {round_no}: the ledger "
            f"shows it committed (stale round number at the call site?)")
    for table in ("frontier", "frontier_delta", "fetched"):
        if wh.exists(table, round_no):
            shutil.rmtree(wh._path(table, round_no))


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


def _drop_stale_compact(wh: Warehouse, table: str, round_no: int):
    """A compact checkpoint already present at the round BEING RUN can
    only be debris from a failed earlier attempt of this same round
    (a committed round is never re-entered): the round died between
    the checkpoint write and the ledger commit. Left in place it would
    become its own BASE when the re-run recompacts — the loader's
    backward scan finds it first and ignores the re-run's fresh delta,
    freezing first-attempt state forever. Delete it before building
    the compaction read plan (the loaders assemble their source path
    list eagerly, driver-side)."""
    if wh.exists(table, round_no):
        import shutil

        shutil.rmtree(wh._path(table, round_no))


def maybe_compact_host_stats(spark: SparkSession, wh: Warehouse,
                             round_no: int) -> bool:
    """Every COMPACT_EVERY rounds, fold the previous checkpoint + the
    ledger rounds since into one ``host_stats_compact`` checkpoint
    (amortized 1/16 extra write per round) so ``load_host_stats``
    reads a bounded round range no matter how old the crawl is.
    Reads the ledger only, so it can run once this round's ``fetched``
    write (A1) has landed."""
    if round_no <= 0 or round_no % COMPACT_EVERY != 0:
        return False
    _drop_stale_compact(wh, "host_stats_compact", round_no)
    agg = load_host_stats(spark, wh, round_no)
    if agg is None:
        return False
    wh.save(agg, "host_stats_compact", round_no, rebalance=True)
    return True


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
    sitemap seeding or compaction checkpoint) is a base."""
    base_round = None
    for r in range(upto_round, -1, -1):
        if wh.exists("frontier", r):
            base_round = r
            break
    if base_round is None:
        return spark.createDataFrame(
            [], "url string, url_hash long, host string, depth int,"
                " priority double, attempts int")
    base = (wh.load(spark, "frontier", base_round).drop("is_new")
            .select(*_FRONTIER_COLS))

    def _nonempty_delta(r):
        # a round with a non-empty batch but ZERO additions wrote the
        # Warehouse's schema-only empty fallback (no is_new= subdirs);
        # mixing such flat dirs with hive-partitioned ones breaks
        # partition discovery, and they contribute no events anyway
        p = wh._path("frontier_delta", r)
        return any(os.path.isdir(os.path.join(p, f"is_new={v}"))
                   for v in (0, 1))

    add_paths = [wh._path("frontier_delta", r)
                 for r in range(base_round + 1, upto_round + 1)
                 if wh.exists("frontier_delta", r) and _nonempty_delta(r)]
    rm_paths = [wh._path("fetched", r)
                for r in range(base_round + 1, upto_round + 1)
                if wh.exists("fetched", r)]
    if not add_paths and not rm_paths:
        return base

    def _ranged(paths, table):
        return (spark.read.option("basePath", wh._path(table))
                .parquet(*paths))

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


def maybe_compact_frontier(spark: SparkSession, wh: Warehouse,
                           round_no: int) -> bool:
    """Every COMPACT_EVERY rounds, materialize the reconstructed
    frontier as a new full ``frontier`` base so ``load_frontier``'s
    event window stays bounded — the one amortized O(frontier) write
    (never an every-round full rewrite). Runs AFTER the
    round's delta write (the view must include this round's events).
    All rows are written ``is_new=0``: their seen-delta rows were
    already recorded by the round that discovered them, and a base
    must never be re-counted by load_seen's is_new=1 readers."""
    if round_no <= 0 or round_no % COMPACT_EVERY != 0:
        return False
    _drop_stale_compact(wh, "frontier", round_no)
    view = (load_frontier(spark, wh, round_no)
            .withColumn("is_new", F.lit(0)))
    wh.save(view, "frontier", round_no, partition_by="is_new",
            rebalance=True)
    return True


def maybe_compact_seen(spark: SparkSession, wh: Warehouse, round_no: int):
    """Every COMPACT_EVERY rounds, rewrite the seen set (base + deltas
    since) into one compact table version — the IcebergLite analogue of
    Iceberg's rewrite_data_files maintenance. One extra write job per
    COMPACT_EVERY rounds (amortized 1/16 action/round); load_seen then
    unions a bounded number of sources no matter how old the crawl is."""
    if round_no <= 0 or round_no % COMPACT_EVERY != 0:
        return False
    # same failed-attempt hazard as host_stats: a stale seen_compact
    # at this round would be taken as load_seen's base, resurrecting
    # the first attempt's seen set over the re-run's
    _drop_stale_compact(wh, "seen_compact", round_no)
    wh.save(load_seen(spark, wh, round_no), "seen_compact", round_no,
            rebalance=True)
    return True


def init_state(spark: SparkSession, wh: Warehouse, n_seeds: int,
               seed_list: list[str] | None = None):
    # `is not None`: an explicitly-empty seed list means an empty crawl,
    # not a silent fallback to the synthetic seeds
    urls = (seed_list if seed_list is not None
            else synth.seed_urls(n_seeds))
    if urls:
        import pandas as _pd

        # Arrow path: a large seed list through the row-tuple route pays
        # per-row Py4J serialization (~12s at 50k seeds; ~1s via Arrow)
        seeds = spark.createDataFrame(_pd.DataFrame({"url": urls}))
    else:
        seeds = spark.createDataFrame([], "url string")
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


def _resolve_politeness(fetch_kernel, default_delay_sec, hot_hosts):
    """Resolve the effective politeness floor + hot-host set for a
    round. Explicit arguments win; otherwise the kernel's advertised
    attributes; a custom kernel that advertises nothing gets the ONE
    shared ``scheduler.DEFAULT_POLITENESS_FLOOR_SEC`` (polite by
    default — a previously-split 0.0-here/1.0-in-kernels default was
    a foot-gun for custom kernels). The synthetic no-network corpus
    (``fetch_kernel=None``) is the only zero-floor path."""
    if default_delay_sec is None:
        if fetch_kernel is None:
            default_delay_sec = 0.0
        else:
            adv = getattr(fetch_kernel, "default_delay_sec", None)
            default_delay_sec = (DEFAULT_POLITENESS_FLOOR_SEC
                                 if adv is None else adv)
    if hot_hosts is None:
        hot_hosts = getattr(fetch_kernel, "hot_hosts", None)
    return default_delay_sec, hot_hosts


def run_round(spark: SparkSession, wh: Warehouse, round_no: int,
              host_budget: int = DEFAULT_HOST_BUDGET,
              batch_size: int = DEFAULT_BATCH_SIZE,
              fetch_kernel=None,
              robots_provider=None,
              default_delay_sec: float | None = None,
              hot_hosts=None,
              auto_hot_min_pending: int | None = None,
              archive_warc: str | None = None) -> dict:
    """Execute round ``round_no`` (requires round_no-1 committed).

    ``archive_warc`` (a directory) enables FETCH-TIME archival: the
    fetch kernel tees every fetched body into
    ``<archive_warc>/round=N/part-*.warc.gz`` shards inside the fused
    fetch pass itself — no second fetch, no extra Spark action (the
    write rides the ledger action like the robots delta publish), and
    the round's ledger entry records the shard manifest. Requires a
    kernel exposing ``bind_archive`` (both built-in kernels do).

    Fixed Spark-ACTION budget per non-empty round (recorded as the
    ``spark_actions`` metric, counted at the call sites): TWO — the
    fused pop+fetch+extract ledger write (A1) and the frontier DELTA
    save (A2: this round's additions only, whose ``is_new=1`` slice
    doubles as the seen delta; removals ride the ledger's url_hash
    column — see ``load_frontier``) — plus amortized compaction writes
    (frontier base + seen + host_stats checkpoints) every
    COMPACT_EVERY rounds. Host stats need no write
    of their own: ``load_host_stats`` derives them from the ledger.
    Every per-round write is O(round output); the only O(total-state)
    writes are the amortized re-materializations. All scalar
    round metrics (batch size, objects, fetched/blocked/deferred
    splits, n_new) ride the first two writes for FREE via
    ``Dataset.observe`` — CollectMetrics nodes aggregate inside the
    write job itself, so there are no counting actions and no
    driver-side re-reads of just-written parquet. The separate
    ``spark_jobs`` metric is what the Spark scheduler counted for the
    round's job group — with AQE enabled that is one job per
    materialized query stage, NOT the action count. The ``sec_*``
    metrics split the round's wall clock at its action boundaries:
    ``sec_pop_fetch_extract`` is the ledger write (A1);
    ``sec_driver_plan`` is the driver building the link-discovery,
    gate and delta plans (no Spark action runs in it);
    ``sec_frontier_seen`` is the frontier-delta write (A2), which runs
    the seen gate; and, on compaction rounds only, ``sec_compact`` is
    the wait for the compactions. Driver-side action latency is what
    bounds small-round throughput; at production batch sizes the same
    two actions amortize over millions of URLs."""
    t0 = time.time()
    sc = spark.sparkContext
    # unique per call: a second crawl in the same session must not count
    # the jobs an earlier crawl ran under the same round number
    job_group = f"crawl-round-{round_no}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(job_group, f"crawl round {round_no}")
    prev = round_no - 1
    # a failed earlier attempt of THIS round may have left state-table
    # debris the delta-layout loaders would otherwise trust
    _drop_uncommitted_round_state(wh, round_no)
    frontier = load_frontier(spark, wh, prev)
    seen = load_seen(spark, wh, prev)
    # robots: synthetic table by default; live crawls pass
    # fetch_http.make_robots_provider() so the host gate uses real
    # robots.txt (the fetch kernel additionally enforces per-path rules)
    robots = (robots_provider(spark, frontier) if robots_provider
              else make_robots(spark))
    host_stats = load_host_stats(spark, wh, prev)

    # 1. pop (robots gate + delay eligibility + host-budget discount +
    #    salted per-host top-k + global cap). ``default_delay_sec`` is
    #    the politeness floor for hosts whose robots.txt is silent
    #    about rate; ``hot_hosts`` opt out of the floor. Left unset,
    #    both INHERIT the fetch kernel's advertised config so the
    #    scheduler's routing and gating always agree with the kernel's
    #    pacer. A custom kernel that advertises nothing gets the
    #    shared DEFAULT_POLITENESS_FLOOR_SEC (polite by default) —
    #    only the synthetic no-network corpus (fetch_kernel=None) pins
    #    floor 0, where a floor would empty consecutive rounds at
    #    bench cadence with nothing to be polite to.
    default_delay_sec, hot_hosts = _resolve_politeness(
        fetch_kernel, default_delay_sec, hot_hosts)
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
    batch = batch.withColumn("batch_id", F.lit(round_no)).cache()

    # 2. politeness repartition: salted host key spreads an operator-
    #    approved hot host over slots while keeping slot assignment
    #    deterministic. Hosts with an effective delay (a robots
    #    Crawl-delay/Request-rate ask, or the default floor when robots
    #    is silent) are NOT salted — their URLs land in one task so the
    #    kernel's per-task pacer is the host's real clock (salting
    #    would let up to 8 tasks hit the host concurrently).
    salt = (F.when(F.col("eff_delay").isNotNull(), F.lit(0))
            .otherwise(F.pmod(F.col("url_hash"), F.lit(8)))
            if "eff_delay" in batch.columns
            else F.pmod(F.col("url_hash"), F.lit(8)))
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
    n_actions = 1
    om = obs_fetch.get
    n_batch, n_objects = int(om["n_batch"]), int(om["n_objects"])
    n_fetched, n_blocked = int(om["n_fetched"]), int(om["n_blocked"])
    n_retry_marked = int(om["n_retry_marked"])
    t_fetch = time.time()
    if n_batch == 0:
        # nothing fetched: no state to write — the frontier/host_stats
        # loaders read a round RANGE, and an empty round adds no delta
        # and no ledger rows, so it carries state forward for free
        # keep the compaction cadences even through empty stretches so
        # the loaders' source lists stay bounded
        maybe_compact_frontier(spark, wh, round_no)
        maybe_compact_seen(spark, wh, round_no)
        maybe_compact_host_stats(spark, wh, round_no)
        # empty rounds still record metrics and release the job group —
        # otherwise later driver-side jobs (recrawl, the next caller on
        # this thread) get attributed to this round's stale group
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(job_group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        _write_metrics(wh, round_no, {
            "fetched": 0.0, "objects": 0.0, "new_urls": 0.0,
            "sec": time.time() - t0, "spark_actions": float(n_actions),
            "spark_jobs": float(n_jobs)})
        wh.commit_round(round_no, {"fetched": 0, "new": 0, "empty": True})
        batch.unpersist()
        enriched.unpersist()
        return {"fetched": 0, "new": 0, "blocked": 0, "deferred": 0,
                "retry_marked": 0, "sec": time.time() - t0}

    # 5. link discovery -> candidate identity: canonical url, hash and
    #    host in one ArrowEvalPython node (_with_url_identity, which
    #    drops non-crawlable hrefs); depth is already the CANDIDATE
    #    depth (parent + 1). Duplicate hashes are resolved by the
    #    gate's JVM aggregate below.
    cand = _with_url_identity(
        enriched.select((F.col("depth") + 1).alias("depth"),
                        F.explode("links").alias("raw_url")), "raw_url")

    # 6. seen-set gate: JVM per-hash min aggregate and exact anti-join
    #    (seen.gate_new_urls). The gate ALSO excludes URLs already
    #    pending in the frontier, for free: every pending row entered
    #    the frontier either through an is_new=1 seen-delta write
    #    (round-0 seeds, fresh discoveries) or while already seen
    #    (deferred re-adds, recrawl reopens), so pending ⊆ seen and the
    #    exact seen anti-join covers both. The pre-r6 code carried a second anti-join
    #    against the full frontier here — provably a no-op by the same
    #    argument, and an O(frontier) scan per round at the design
    #    point.
    fresh = seen_mod.gate_new_urls(cand, seen)
    fresh = (fresh.withColumn("priority", priority_of(F.col("depth")))
                  .withColumn("attempts", F.lit(0))
                  .select("url", "url_hash", "host", "depth", "priority",
                          "attempts"))

    # 7. frontier DELTA in ONE write job: only this round's additions
    #    (deferred re-adds + fresh discoveries), hive-partitioned on
    #    is_new so the fresh slice doubles as the round's append-only
    #    seen delta (see _seen_delta_path). Removals need NO write at
    #    all — the popped rows are already in the fetched ledger
    #    (url_hash column), and ``load_frontier`` replays additions
    #    against removals per url_hash. The pre-r6 form rewrote the
    #    ENTIRE frontier here (remaining ∪ deferred ∪ fresh) —
    #    O(frontier) write I/O per round, the largest state table of
    #    all at 10^10-URL scale.
    # temporarily-blocked URLs (robots unreachable / transient fetch
    # failure) go BACK into the frontier for a later round — they were
    # popped but not consumed. Bounded: at most MAX_DEFERS re-adds per
    # URL (the ledger's retry rows past the cap stay consumed, like
    # any popped URL). Priority is REBUILT from the depth base so the
    # decay is exactly DEFER_PRIORITY_DECAY^attempts — the popped
    # row's priority column already carries pop_batch's host-budget
    # discount, and decaying that value would compound the discount
    # into the decay on every retry.
    deferred = (enriched.filter("retry").select("url")
                .join(batch.select("url", "url_hash", "host", "depth",
                                   "attempts"), "url")
                .filter(F.col("attempts") < F.lit(MAX_DEFERS))
                .select("url", "url_hash", "host", "depth",
                        (priority_of(F.col("depth"))
                         * F.pow(F.lit(DEFER_PRIORITY_DECAY),
                                 F.col("attempts") + 1)).alias("priority"),
                        (F.col("attempts") + 1).alias("attempts")))
    # The repartition coalesces the delta write from one file per
    # union-branch task (64+ tiny files, re-listed and re-scanned by
    # every later replay — the r10 profile measured the replay's event
    # scan as a 56-task stage driven purely by file count) to a
    # parallelism-scaled handful. Both round metrics (n_new = fresh
    # rows, n_deferred = URLs actually RE-FRONTIERED, i.e. retry rows
    # under the attempts cap — counting every retry-marked ledger row
    # would report a URL as deferred on the very round it is dropped)
    # ride this one write as a single CollectMetrics over the is_new
    # column, placed ABOVE the repartition: AQE's empty-relation
    # propagation removes observation nodes that sit under a
    # materialized-empty exchange (measured: the all-blocked round
    # then loses its n_new/n_deferred row), so the observe must stay
    # in the final write stage.
    frontier_delta = (deferred.withColumn("is_new", F.lit(0))
                      .unionByName(fresh.withColumn("is_new", F.lit(1)))
                      .repartition(max(
                          spark.sparkContext.defaultParallelism // 8, 1)))

    t_links = time.time()
    # ONE write job runs the whole gate pipeline and publishes the
    # frontier; n_new and n_deferred ride the SAME action as
    # CollectMetrics observations (no separate materializing count(),
    # no driver re-read of the written is_new=1 partition). ``fresh``
    # is not cached: this write is its only reader. try/finally: a
    # failed write must not leak still-running background compactions
    # for a round that will never commit, nor the round's cached RDD
    # blocks — every side thread is joined and the caches dropped on
    # the error path before the exception propagates.
    # InheritableThread, not threading.Thread: under PySpark's
    # pinned-thread mode (the default here) a raw Python thread neither
    # inherits the round's job-group local property (its jobs would
    # escape the spark_jobs counter and any group cancellation) nor
    # cleans up its paired JVM thread.
    side_err: list[BaseException] = []
    side_threads: list = []
    side_actions: list[int] = []

    def _spawn(fn, name):
        def run():
            try:
                fn()
            except BaseException as e:  # re-raised on the round thread
                side_err.append(e)
        th = InheritableThread(target=run, name=name)
        side_threads.append(th)
        th.start()

    try:
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
        t_frontier = time.time()

        # base re-materializations must follow the delta write (the
        # reconstructed views include this round's events); the seen,
        # host_stats and frontier compactions read/write disjoint
        # tables, so on compact rounds they run concurrently
        compact = round_no > 0 and round_no % COMPACT_EVERY == 0
        if compact:
            _spawn(lambda: side_actions.append(
                1 if maybe_compact_seen(spark, wh, round_no) else 0),
                f"seen-compact-r{round_no}")
            _spawn(lambda: side_actions.append(
                1 if maybe_compact_host_stats(spark, wh, round_no)
                else 0), f"host-stats-compact-r{round_no}")
            if maybe_compact_frontier(spark, wh, round_no):
                n_actions += 1
    finally:
        # all compactions must be on disk before the ledger commit
        # makes the round visible (resume loads them for the next
        # round's gate)
        for th in side_threads:
            th.join()
        batch.unpersist()
        enriched.unpersist()
    if side_err:
        raise side_err[0]
    n_actions += sum(side_actions)
    t_compact = time.time()

    n_jobs = len(sc.statusTracker().getJobIdsForGroup(job_group))
    sc.setLocalProperty("spark.jobGroup.id", None)
    sec = time.time() - t0
    secs = {"sec_pop_fetch_extract": t_fetch - t0,
            "sec_driver_plan": t_links - t_fetch,
            "sec_frontier_seen": t_frontier - t_links}
    if compact:
        secs["sec_compact"] = t_compact - t_frontier
    _write_metrics(wh, round_no, {
        "fetched": float(n_fetched), "objects": float(n_objects),
        "robots_blocked": float(n_blocked),
        # retry-marked ledger rows vs URLs actually re-frontiered; the
        # difference is final-attempt rows consumed at the cap
        "retry_marked": float(n_retry_marked),
        "robots_deferred": float(n_deferred),
        "new_urls": float(n_new), "sec": sec,
        "spark_actions": float(n_actions),
        "spark_jobs": float(n_jobs), **secs})
    # ``batch`` = this round's TOTAL ledger rows (popped URLs incl.
    # blocked/retry), the replay removal count
    commit_info = {"fetched": n_fetched, "new": n_new,
                   "blocked": n_blocked,
                   "deferred": n_deferred,
                   "batch": n_batch,
                   "sec": round(sec, 3)}
    if warc_round_dir is not None:
        # shard manifest: the archive write rode the ledger action
        # (executor-side, atomic per shard); the ledger records what
        # was published so operators can audit/replicate round output
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
    read. There is one layout: seen deltas in the frontier tables'
    ``is_new=1`` partitions, and host_stats checkpoints plus the
    ledger. A legacy single ``seen`` or ``host_stats`` table would be
    ignored silently, losing its state. Old ``seen_filter`` dirs (of
    any codec) are harmless: nothing reads them."""
    problems = [f"legacy {t!r} table" for t in ("seen", "host_stats")
                if wh.exists(t)]
    if problems:
        raise ValueError("unsupported warehouse layout: "
                         + "; ".join(problems))


def run_crawl(spark: SparkSession, warehouse: str, rounds: int,
              n_seeds: int = 100, host_budget: int = DEFAULT_HOST_BUDGET,
              batch_size: int = DEFAULT_BATCH_SIZE,
              resume: bool = False,
              fetch_kernel=None,
              seeds: list[str] | None = None,
              robots_provider=None,
              default_delay_sec: float | None = None,
              hot_hosts=None,
              auto_hot_min_pending: int | None = None,
              archive_warc: str | None = None) -> list[dict]:
    """Run (or resume) a crawl to ``rounds`` committed rounds.

    ``fetch_kernel`` swaps the fused fetch+extract stage (default: the
    deterministic synthetic corpus; pass
    ``fetch_http.make_fetch_extract_kernel()`` for live HTTP);
    ``seeds`` overrides the synthetic seed list with explicit URLs;
    ``robots_provider`` swaps the synthetic robots table for a callable
    (spark, frontier) -> DataFrame(host, allowed) — live crawls pass
    ``fetch_http.make_robots_provider()``. ``default_delay_sec`` is the
    per-host politeness floor for hosts whose robots.txt does not ask
    for a rate (scheduler gate + single-task routing); ``hot_hosts``
    lists hosts with operator clearance for full-rate salted fetching.
    Left at None, BOTH inherit the fetch kernel's advertised config
    (``make_fetch_extract_kernel`` attaches its floor/hot-host values
    to the kernel it returns), so the scheduler and the kernel's pacer
    can't silently disagree; a custom kernel that advertises nothing
    gets ``scheduler.DEFAULT_POLITENESS_FLOOR_SEC``, and only the
    synthetic no-network corpus runs with floor 0 (see
    ``_resolve_politeness``). ``archive_warc`` tees every fetched body
    into per-round WARC shards inside the fetch pass (see
    ``run_round``); each round's ledger entry records the shard
    manifest."""
    wh = Warehouse(warehouse)
    if not resume:
        wh.destroy()
        wh = Warehouse(warehouse)
    start = wh.last_committed_round()
    if start < 0:
        init_state(spark, wh, n_seeds, seed_list=seeds)
        start = 0
    else:
        _check_layout(wh)
    static_robots = None
    if robots_provider is None and rounds > start + 1:
        # The synthetic robots table is static per crawl — build (and
        # cache) it once instead of re-running createDataFrame + a
        # fresh broadcast-build job every round (r10; a live
        # robots_provider is per-round by design: its verdicts depend
        # on the round's frontier hosts).
        static_robots = make_robots(spark).cache()
        robots_provider = lambda _s, _f: static_robots  # noqa: E731
    stats = []
    try:
        for r in range(start + 1, rounds + 1):
            s = run_round(spark, wh, r, host_budget, batch_size,
                          fetch_kernel=fetch_kernel,
                          robots_provider=robots_provider,
                          default_delay_sec=default_delay_sec,
                          hot_hosts=hot_hosts,
                          auto_hot_min_pending=auto_hot_min_pending,
                          archive_warc=archive_warc)
            stats.append({"round": r, **s})
    finally:
        if static_robots is not None:
            static_robots.unpersist()
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
    of round count."""
    wh = Warehouse(warehouse)
    last = wh.last_committed_round()
    paths = [wh._path("fetched", r) for r in range(1, last + 1)
             if wh.exists("fetched", r)]
    if not paths:
        return spark.createDataFrame([], "batch_id int, rank long, url string")
    df = (spark.read.parquet(*paths)
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
                         "is silent about rate (default: inherit the "
                         "fetch kernel's advertised value; a "
                         "kernel advertising nothing gets the shared "
                         "1s floor; synthetic corpus -> 0)")
    ap.add_argument("--hot-host", action="append", default=None,
                    help="host with operator clearance for full-rate "
                         "salted fetching (repeatable)")
    ap.add_argument("--recrawl-max-age", type=float, default=None,
                    help="after the crawl, re-open fetched URLs older "
                         "than this many seconds as a maintenance round")
    ap.add_argument("--live", action="store_true",
                    help="crawl live HTTP (fetch_http kernel + real "
                         "robots provider) instead of the synthetic "
                         "corpus; --seeds-url is then required")
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
    fetch_kernel = robots_provider = None
    seed_list = None
    if args.live:
        from jsonextract_spark.crawl.fetch_http import (
            make_fetch_extract_kernel, make_robots_provider)
        # Thread the CLI politeness knobs into the kernel itself, not
        # just the scheduler: the kernel's per-host pacer and the
        # scheduler's gate/pop-cap must key on the SAME delay or the
        # advertised attributes and the flag diverge (the exact
        # divergence _resolve_politeness exists to prevent).
        kernel_kwargs = {"hot_hosts": args.hot_host}
        if args.default_delay_sec is not None:
            kernel_kwargs["default_delay_sec"] = args.default_delay_sec
        fetch_kernel = make_fetch_extract_kernel(**kernel_kwargs)
        robots_provider = make_robots_provider(
            cache_path=os.path.join(args.warehouse, "robots_cache"))
        seed_list = args.seeds_url
    stats = run_crawl(spark, args.warehouse, args.rounds, args.seeds,
                      args.host_budget, args.batch_size,
                      resume=args.resume,
                      seeds=seed_list, fetch_kernel=fetch_kernel,
                      robots_provider=robots_provider,
                      default_delay_sec=args.default_delay_sec,
                      hot_hosts=args.hot_host,
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
