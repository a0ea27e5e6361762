"""URL-seen set: the exact gate over murmur3-64 URL hashes.

* ``seen`` is the exact set of URL hashes: the frontier tables'
  ``is_new=1`` partitions plus ``seen_compact`` checkpoints, read by
  ``pipeline.load_seen`` (hash-bucket partitioned, Iceberg
  ``bucket(url_hash)``, in prod).
* The gate (``gate_new_urls``) is two engine operators and no Python:
  a JVM per-``url_hash`` min aggregate, whose partial aggregate is the
  map-side pre-dedup, then a ``left_anti`` join against ``seen``. Its
  width is Spark's shuffle parallelism; no constant caps it.

Earlier code pruned the probe side with per-bucket Bloom bitsets (the
``seen_filter`` table). The anti-join scans all of ``seen`` either
way, so the prune only spared definitely-new rows one shuffle, at the
price of two Python cogroup stages and a filter write per round. It is
gone; a warehouse's old ``seen_filter`` directories are never read.

``build_filters`` and ``merge_filters`` (with ``N_BUCKETS``,
``M_BITS``, ``K_PROBES`` and the bit helpers) remain only because
``perfbench/tracing.py`` wraps them by name: nothing in the package
calls them. They go once a change to the benchmark unhooks them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

N_BUCKETS = 64
M_BITS = 1 << 17     # bits per bucket bloom
K_PROBES = 7

_FILTER_SCHEMA = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("bits", T.BinaryType()),
    T.StructField("m", T.IntegerType()),        # bits per bucket
    T.StructField("k", T.IntegerType()),        # probes per key
    T.StructField("n", T.LongType()),
])


def bucket_col(hash_col):
    return F.pmod(hash_col, F.lit(N_BUCKETS)).cast("int")


def _probe_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing of the 64-bit key."""
    h = hashes.astype(np.uint64)
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    ks = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + ks[None, :] * h2[:, None]) %
            np.uint64(m)).astype(np.int64)


def _build_bits(hashes: np.ndarray, m: int, k: int) -> bytes:
    bits = np.zeros(m // 8, dtype=np.uint8)
    pos = _probe_positions(hashes, m, k).ravel()
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return bits.tobytes()


def build_filters(seen: DataFrame, m: int = M_BITS,
                  k: int = K_PROBES) -> DataFrame:
    """seen(url_hash) -> one Bloom row per bucket via grouped-map (the
    'UDAF' of the seen set)."""
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy()
        return pd.DataFrame({
            "bucket": [int(pdf["bucket"].iloc[0])],
            "bits": [_build_bits(hashes, m, k)],
            "m": [m], "k": [k], "n": [len(hashes)],
        })

    return (seen.withColumn("bucket", bucket_col(F.col("url_hash")))
                .groupBy("bucket").applyInPandas(build, _FILTER_SCHEMA))


def merge_filters(filters: DataFrame, fresh: DataFrame,
                  m: int = M_BITS, k: int = K_PROBES) -> DataFrame:
    """Incremental filter update: OR the bits of new keys into each
    touched bucket; untouched buckets pass through. O(fresh) + one small
    shuffle on bucket — never rescans the historical seen set (at 10^10
    keys a full rebuild per round would dominate the whole crawl).

    One COGROUP joins each bucket's filter row with its fresh keys
    (r10: the previous form first packed the keys via a separate
    groupBy-applyInPandas stage and re-grouped the union — a whole
    extra Python stage + exchange per round for the same result)."""
    delta = (fresh.select("url_hash")
             .withColumn("bucket", bucket_col(F.col("url_hash"))))

    def merge(key, filt_pdf: pd.DataFrame,
              delta_pdf: pd.DataFrame) -> pd.DataFrame:
        fresh_h = (delta_pdf["url_hash"].to_numpy().astype(np.int64)
                   if len(delta_pdf) else np.array([], dtype=np.int64))
        if len(filt_pdf) == 0:
            # bucket had no filter yet: build from the delta alone
            return pd.DataFrame({
                "bucket": [int(key[0])],
                "bits": [_build_bits(fresh_h, m, k)],
                "m": [m], "k": [k], "n": [len(fresh_h)]})
        row = filt_pdf.iloc[0]
        acc = np.frombuffer(row["bits"], dtype=np.uint8).copy()
        if len(fresh_h):
            add = np.frombuffer(
                _build_bits(fresh_h, int(row["m"]), int(row["k"])),
                dtype=np.uint8)
            acc |= add
        return pd.DataFrame({
            "bucket": [int(key[0])],
            "bits": [acc.tobytes()], "m": [int(row["m"])],
            "k": [int(row["k"])], "n": [int(row["n"]) + len(fresh_h)]})

    return (filters.groupBy("bucket")
            .cogroup(delta.groupBy("bucket"))
            .applyInPandas(merge, _FILTER_SCHEMA))


def gate_new_urls(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """The crawl gate: the exact set of ``candidates`` (url, url_hash,
    host, depth, a ``url_hash`` may repeat) not in ``seen``, one row
    per hash. Duplicates resolve in ONE JVM aggregate — independent
    per-column mins of url, host and depth, which differ from a
    row-wise min only under a murmur3 collision — whose partial
    aggregate is the map-side pre-dedup; a ``left_anti`` join on
    ``url_hash`` then drops every seen hash."""
    cand = (candidates.groupBy("url_hash")
            .agg(F.min("url").alias("url"),
                 F.min("host").alias("host"),
                 F.min("depth").alias("depth"))
            .select("url", "url_hash", "host", "depth"))
    return cand.join(seen, "url_hash", "left_anti")
