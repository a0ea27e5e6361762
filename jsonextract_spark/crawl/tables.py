"""Warehouse: versioned, atomically-committed state tables.

Production target is Iceberg (atomic snapshot commits, partition pruning
on ``bucket(url_hash)`` / ``batch_id``). This sandbox has no Iceberg jars,
so the same contract is implemented over plain parquet with one atomic
commit record per round — "IcebergLite":

* every crawl round writes its outputs under ``<table>/round=<n>/``;
* a round becomes visible only when its commit record
  ``_commits/<n>.json`` is published (see "Round layout");
* resume = find the last committed round, load state at it.

On a real cluster, swap ``save``/``load`` for
``df.writeTo("cat.db.tbl").overwritePartitions()`` /
``spark.read.table(...)`` — the pipeline code only talks to this class.

Schemas
-------
Each state table's schema is a constant of this module, and ``SCHEMAS``
maps the table name to it. No reader infers a schema: every read names
its table's schema (``spark.read.schema(...)``), so a read costs no
footer-sampling Spark job, and a round dir holding no data file (an
empty partitioned write publishes ``_SUCCESS`` alone) reads as the
empty table. Hive partition columns (``round``, ``is_new``) still come
from the paths.

frontier     FRONTIER_SCHEMA. FULL frontier BASE: url, url_hash,
             host, depth, priority, attempts (deferral count,
             bounded by pipeline.MAX_DEFERS), hive-partitioned on
             is_new. Written only at init (round
             0, where is_new=1 seeds double as the first seen delta),
             at recrawl and sitemap maintenance rounds (a sitemap
             round's is_new=1 URLs are its seen delta), and as the
             amortized re-materialization every
             pipeline.COMPACT_EVERY rounds (pipeline.compact_state,
             all is_new=0) — never per round. The loader treats any
             of these as a base.
frontier_delta
             FRONTIER_SCHEMA. The round's frontier ADDITIONS only,
             partitioned on is_new: 0 = deferred re-adds, 1 = fresh
             discoveries (the is_new=1 slice IS the round's
             append-only seen delta — one write job for both tables).
             REMOVALS are not written anywhere: the round's popped
             rows are already the fetched ledger (url_hash column),
             and pipeline.load_frontier replays additions against
             removals per url_hash, newest event wins — a round's
             frontier write is O(adds), never O(frontier).
seen_compact SEEN_SCHEMA. url_hash — periodic compaction of the
             deltas (the IcebergLite analogue of rewrite_data_files),
             written by pipeline.compact_state every
             pipeline.COMPACT_EVERY rounds so load_seen unions a
             bounded source list
seen_filter  per-bucket Bloom bitsets written by earlier code; the
             exact seen gate never reads them, so an old warehouse's
             dirs are ignored
fetched      LEDGER_SCHEMA. batch_id, rank, url, url_hash (the
             frontier key — the round's popped rows double as the
             frontier-delta removal list, see load_frontier), host,
             depth, warc_ts, n_objects, n_links, bytes, partition_id
             (lineage), blocked (popped but stopped by the robots
             per-path check — never GET'd),
             retry (blocked by a NON-definitive verdict, i.e. robots
             5xx/unreachable: returned to the frontier, not consumed)
host_stats_compact
             HOST_STATS_SCHEMA. host, crawled (cumulative fetch
             count), last_fetch_ts (epoch seconds of the host's
             newest real fetch) — a checkpoint written by
             pipeline.compact_state every pipeline.COMPACT_EVERY
             rounds.
             No per-round host table exists: the fetched ledger
             already holds every fetch, so pipeline.load_host_stats
             derives the cumulative totals as the newest checkpoint
             plus count/max(warc_ts) over the non-blocked ledger rows
             of the rounds after it.
robots       ROBOTS_SCHEMA. host, allowed (may the root be fetched),
             crawl_delay (the host's Crawl-delay/Request-rate ask,
             null when unspecified), robots_txt (effective rules text: the body
             on 200, a complete disallow on 5xx, null = allow-all on
             4xx or no response), definitive (False for 5xx / no
             response), fetched_at (epoch seconds) — one row per host
             a live round resolved (the kernel's advertised resolver),
             only for hosts without a reusable verdict; synthetic
             crawls write none
robots_compact
             ROBOTS_SCHEMA. The newest definitive row per host
             younger than pipeline.ROBOTS_TTL_SEC, folded from the
             previous checkpoint and the robots rounds since by
             pipeline.compact_state every pipeline.COMPACT_EVERY
             rounds; pipeline.load_robots reads the newest checkpoint
             plus the robots rounds after it
metrics      batch_id, key, value (incl. per-phase secs + spark_jobs),
             written driver-side with pyarrow and read with pyarrow,
             never by Spark

Round layout
------------
Commits: round N is committed once ``_commits/N.json`` exists. The
record (round, status, ts, plus the round's info: counts, phase,
``spark_actions`` of a maintenance round, a WARC manifest) is written
to a ``.tmp-`` file in ``_commits`` and renamed to its fresh final
name. Rounds commit contiguously from 0 (a round runs only after the
one before it committed), so the last committed round is found by
stat probes alone: exponential up from round 0, then binary between
the last hit and the first miss — O(log rounds) stats, no file opened,
no byte parsed. ``commit_round`` writes one small file and
``drop_round``'s committed-round guard is one stat, whatever the
crawl's age. Why fresh names: the single ``_ledger.json`` that earlier
code rewrote and ``os.replace``d over itself cost O(rounds) bytes per
commit, and ext4 flushes a file renamed over an existing one to disk
(auto_da_alloc): ~50 ms per commit on a 4-core ext4 host, against
well under 1 ms for a whole commit under a fresh name. ``commit_round``
therefore never renames over an existing file: a record is written
once. ``ledger()`` reads the records back, in round order, for the
callers that want every round (recrawl's fetch ages, tests).

Which rounds of a table exist is a Warehouse question: ``rounds``
lists a table's published round dirs in a range (or one hive
partition of each), ``newest`` finds the newest round at or below a
bound. Both stat only the rounds asked for and never list the table,
so a loader that asks for the rounds since its checkpoint costs the
same however old the crawl is.

Seen deltas: a round's fresh URLs are the ``is_new=1`` partition of
the ``frontier`` or the ``frontier_delta`` table at that round, never
of both. Crawl rounds write them to the delta; init and sitemap
rounds write a ``frontier`` base and no delta; compaction and recrawl
bases are all ``is_new=0``. So the seen delta of a round range is the
two tables' ``is_new=1`` partitions together, with no precedence.

Crash debris: a round that is not committed owns nothing.
``drop_round`` deletes ``<table>/round=N`` under EVERY table dir of
the warehouse before round N (or a maintenance round at the same
number) is run again, so a per-round table added later is covered
without being named anywhere.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# the commit records' dir under the warehouse root (see "Round layout")
COMMITS = "_commits"


def _tmp_dir_name(final: str) -> str:
    return f"{final}.tmp-{uuid.uuid4().hex[:12]}"


FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("priority", T.DoubleType()),
    # deferral count (temporary robots block / transient fetch
    # failure); re-added at most pipeline.MAX_DEFERS times
    T.StructField("attempts", T.IntegerType()),
])

SEEN_SCHEMA = T.StructType([T.StructField("url_hash", T.LongType())])

ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("allowed", T.BooleanType()),
    T.StructField("crawl_delay", T.DoubleType()),
    T.StructField("robots_txt", T.StringType()),
    T.StructField("definitive", T.BooleanType()),
    T.StructField("fetched_at", T.DoubleType()),
])

# the fetched ledger: synth.FETCH_EXTRACT_SCHEMA's scalar columns plus
# n_links and the fetch task's partition_id, as pipeline.run_round
# writes them
LEDGER_SCHEMA = T.StructType([
    T.StructField("batch_id", T.IntegerType()),
    T.StructField("rank", T.LongType()),
    T.StructField("url", T.StringType()),
    T.StructField("url_hash", T.LongType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("n_objects", T.IntegerType()),
    T.StructField("n_links", T.IntegerType()),
    T.StructField("bytes", T.IntegerType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("blocked", T.BooleanType()),
    T.StructField("retry", T.BooleanType()),
])

HOST_STATS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("crawled", T.DoubleType()),
    T.StructField("last_fetch_ts", T.DoubleType()),
])

SCHEMAS = {
    "frontier": FRONTIER_SCHEMA,
    "frontier_delta": FRONTIER_SCHEMA,
    "seen_compact": SEEN_SCHEMA,
    "fetched": LEDGER_SCHEMA,
    "host_stats_compact": HOST_STATS_SCHEMA,
    "robots": ROBOTS_SCHEMA,
    "robots_compact": ROBOTS_SCHEMA,
}

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def local_table(spark: SparkSession, schema: str,
                rows: Sequence[tuple] = ()) -> DataFrame:
    """A small driver-built table: ``rows`` (tuples in the column order
    of ``schema``, a DDL string; none gives the empty table) handed to
    Spark as one pyarrow table typed by the schema. It analyzes to a
    ``LocalRelation``, so no Python worker runs for it.

    ``spark.createDataFrame`` of a list is a PythonRDD, whose runner
    starts a second Python worker pool (see ``session``). So is an
    EMPTY pandas frame, which skips the Arrow path, and a pandas frame
    whose Arrow conversion fails while
    ``spark.sql.execution.arrow.pyspark.fallback.enabled`` is on. A
    pyarrow table has no such fallback: a conversion error raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow]
    return spark.createDataFrame(
        pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)],
                 schema=arrow), struct)


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._commits = os.path.join(root, COMMITS)

    # -- commits -----------------------------------------------------------
    def _commit_path(self, round_no: int) -> str:
        return os.path.join(self._commits, f"{round_no}.json")

    def is_committed(self, round_no: int) -> bool:
        return os.path.exists(self._commit_path(round_no))

    def last_committed_round(self) -> int:
        """The newest committed round, or -1: exponential then binary
        stat probes over the contiguous records (see "Round layout")."""
        if not self.is_committed(0):
            return -1
        lo, hi = 0, 1
        while self.is_committed(hi):
            lo, hi = hi, hi * 2
        while hi - lo > 1:          # lo committed, hi not
            mid = (lo + hi) // 2
            lo, hi = (mid, hi) if self.is_committed(mid) else (lo, mid)
        return lo

    def ledger(self) -> dict:
        """Every committed round's record, in round order."""
        rounds = []
        for r in range(self.last_committed_round() + 1):
            with open(self._commit_path(r)) as f:
                rounds.append(json.load(f))
        return {"rounds": rounds}

    def commit_round(self, round_no: int, info: dict | None = None):
        """Publish round ``round_no``'s commit record: written to a
        ``.tmp-`` file, then renamed to its fresh name (the atomic
        commit point). A round is committed once; committing it again
        raises."""
        if self.is_committed(round_no):
            raise ValueError(f"round {round_no} is already committed")
        final = self._commit_path(round_no)
        os.makedirs(self._commits, exist_ok=True)
        tmp = _tmp_dir_name(final)
        with open(tmp, "w") as f:
            json.dump({"round": round_no, "status": "committed",
                       "ts": time.time(), **(info or {})}, f)
        os.rename(tmp, final)

    # -- table IO ----------------------------------------------------------
    def _path(self, table: str, round_no: int | None = None) -> str:
        p = os.path.join(self.root, table)
        if round_no is not None:
            p = os.path.join(p, f"round={round_no}")
        return p

    def save(self, df: DataFrame, table: str, round_no: int | None = None,
             partition_by: str | None = None,
             rebalance: bool = False):
        """Write to a temp dir then atomically rename into place, so a
        killed job never leaves a half-visible partition (Iceberg gives
        this for free; parquet needs the rename dance).

        ``partition_by`` hive-partitions the output on one column — used
        to carve a table into sub-tables in a single write job (e.g. the
        frontier's ``is_new`` split doubles as the seen-set delta).

        ``rebalance`` inserts an AQE REBALANCE exchange before the
        write, sizing output files adaptively (advisory partition size)
        instead of inheriting the plan's task count: a delta table
        written from a 32-64-task union otherwise lands as 32-64 tiny
        files whose listing + open cost is paid by EVERY later replay
        read of the round range (guide §6: small files hurt twice; the
        r10 profile measured the replay's event scan as a 56-task stage
        whose task count was pure file count). Scale-adaptive by
        construction — at production sizes AQE splits the exchange into
        advisory-sized files rather than coalescing to one.

        An empty partitioned write publishes a dir holding ``_SUCCESS``
        alone; every reader names its schema (see "Schemas"), so it
        reads as the empty table."""
        final = self._path(table, round_no)
        tmp = _tmp_dir_name(final)
        w = df.hint("rebalance") if rebalance else df
        writer = w.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    def load(self, spark: SparkSession, table: str,
             round_no: int | None = None) -> DataFrame:
        return (spark.read.schema(SCHEMAS[table])
                .parquet(self._path(table, round_no)))

    def exists(self, table: str, round_no: int | None = None) -> bool:
        return os.path.exists(self._path(table, round_no))

    # -- round layout ------------------------------------------------------
    def rounds(self, table: str, lo: int, hi: int,
               part: str | None = None) -> list[str]:
        """The published round dirs of ``table`` in ``[lo, hi]``,
        ascending; with ``part`` (e.g. ``"is_new=1"``), those rounds'
        existing ``part`` subdirs instead. One stat per round in the
        range (see "Round layout"); ``.tmp-`` dirs are never rounds."""
        paths = (self._path(table, r) for r in range(max(lo, 0), hi + 1))
        if part is not None:
            paths = (os.path.join(p, part) for p in paths)
        return [p for p in paths if os.path.exists(p)]

    def newest(self, table: str, upto: int) -> int:
        """The newest round <= ``upto`` at which ``table`` exists, or
        -1. Checkpoint tables are rewritten every
        ``pipeline.COMPACT_EVERY`` rounds, so once one exists the
        backward scan stops within that many rounds."""
        return next((r for r in range(upto, -1, -1)
                     if self.exists(table, r)), -1)

    def drop_round(self, round_no: int):
        """Delete round ``round_no`` of every table dir: the debris a
        FAILED attempt left between its first write and its commit,
        which the loaders would trust (``.tmp-`` dirs stay; no reader
        takes them). Refuses a COMMITTED round:
        a stale round number would erase a committed round's ``fetched``
        rows, its replay removals, re-opening already-crawled URLs in
        every later round's frontier."""
        if self.is_committed(round_no):
            raise ValueError(
                f"refusing to drop state for round {round_no}: it is "
                f"committed (stale round number at the call site?)")
        for table in os.listdir(self.root):
            p = self._path(table, round_no)
            if os.path.isdir(p):
                shutil.rmtree(p)

    def destroy(self):
        shutil.rmtree(self.root, ignore_errors=True)
