"""Warehouse: versioned, atomically-committed state tables.

Production target is Iceberg (atomic snapshot commits, partition pruning
on ``bucket(url_hash)`` / ``batch_id``). This sandbox has no Iceberg jars,
so the same contract is implemented over plain parquet with an atomic
ledger file — "IcebergLite":

* every crawl round writes its outputs under ``<table>/round=<n>/``;
* a round becomes visible only when the ledger JSON is atomically
  replaced (``os.replace``) with the round marked committed;
* resume = read the ledger, load state at the last committed round.

On a real cluster, swap ``save``/``load`` for
``df.writeTo("cat.db.tbl").overwritePartitions()`` /
``spark.read.table(...)`` — the pipeline code only talks to this class.

Schemas
-------
frontier     FULL frontier BASE: url, url_hash, host, depth, priority,
             attempts (deferral count, bounded by pipeline.MAX_DEFERS),
             hive-partitioned on is_new. Written only at init (round
             0, where is_new=1 seeds double as the first seen delta),
             at recrawl and sitemap maintenance rounds (a sitemap
             round's is_new=1 URLs are its seen delta), and as the
             amortized COMPACT_EVERY re-materialization (all
             is_new=0) — never per round. The loader treats any of
             these as a base.
frontier_delta
             the round's frontier ADDITIONS only (same columns),
             partitioned on is_new: 0 = deferred re-adds, 1 = fresh
             discoveries (the is_new=1 slice IS the round's
             append-only seen delta — one write job for both tables).
             REMOVALS are not written anywhere: the round's popped
             rows are already the fetched ledger (url_hash column),
             and pipeline.load_frontier replays additions against
             removals per url_hash, newest event wins — a round's
             frontier write is O(adds), never O(frontier).
seen_compact url_hash — periodic compaction of the deltas (the
             IcebergLite analogue of rewrite_data_files), written every
             pipeline.COMPACT_EVERY rounds so load_seen unions a
             bounded source list
seen_filter  per-bucket Bloom bitsets written by earlier code; the
             exact seen gate never reads them, so an old warehouse's
             dirs are ignored
fetched      batch_id, rank, url, url_hash (the frontier key — the
             round's popped rows double as the frontier-delta removal
             list, see load_frontier),
             host, depth, warc_ts, n_objects,
             n_links, bytes, partition_id (lineage), blocked (popped
             but stopped by the robots per-path check — never GET'd),
             retry (blocked by a NON-definitive verdict, i.e. robots
             5xx/unreachable: returned to the frontier, not consumed)
host_stats_compact
             host, crawled (cumulative fetch count), last_fetch_ts
             (epoch seconds of the host's newest real fetch) — a
             checkpoint written every pipeline.COMPACT_EVERY rounds.
             No per-round host table exists: the fetched ledger
             already holds every fetch, so pipeline.load_host_stats
             derives the cumulative totals as the newest checkpoint
             plus count/max(warc_ts) over the non-blocked ledger rows
             of the rounds after it.
metrics      batch_id, key, value (incl. per-phase secs + spark_jobs)
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


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

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._ledger_path = os.path.join(root, "_ledger.json")

    # -- ledger ----------------------------------------------------------
    def ledger(self) -> dict:
        if not os.path.exists(self._ledger_path):
            return {"rounds": []}
        with open(self._ledger_path) as f:
            return json.load(f)

    def last_committed_round(self) -> int:
        rounds = [r["round"] for r in self.ledger()["rounds"]
                  if r.get("status") == "committed"]
        return max(rounds) if rounds else -1

    def commit_round(self, round_no: int, info: dict | None = None):
        led = self.ledger()
        led["rounds"] = [r for r in led["rounds"] if r["round"] != round_no]
        led["rounds"].append({"round": round_no, "status": "committed",
                              "ts": time.time(), **(info or {})})
        led["rounds"].sort(key=lambda r: r["round"])
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".ledger")
        with os.fdopen(fd, "w") as f:
            json.dump(led, f, indent=1)
        os.replace(tmp, self._ledger_path)  # atomic commit point

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
        advisory-sized files rather than coalescing to one."""
        final = self._path(table, round_no)
        tmp = _tmp_dir_name(final)
        w = df.hint("rebalance") if rebalance else df
        writer = w.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp)
        if partition_by is not None and not any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(tmp) for f in fs):
            # An EMPTY partitioned write leaves only _SUCCESS — no
            # schema-bearing part file — and a later read fails with
            # UNABLE_TO_INFER_SCHEMA. Write an empty frame FROM THE
            # KNOWN SCHEMA instead (re-running the original plan just to
            # produce zero rows would double-execute it); readers that
            # look for partition subdirs correctly see no partitions.
            shutil.rmtree(tmp)
            empty = w.sparkSession.createDataFrame(
                [], w.drop(partition_by).schema)
            empty.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.replace(tmp, final)

    def load(self, spark: SparkSession, table: str,
             round_no: int | None = None) -> DataFrame:
        return spark.read.parquet(self._path(table, round_no))

    def exists(self, table: str, round_no: int | None = None) -> bool:
        return os.path.exists(self._path(table, round_no))

    def destroy(self):
        shutil.rmtree(self.root, ignore_errors=True)
