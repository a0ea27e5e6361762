"""jsonextract_spark — a PySpark-native web-crawl + JS/JSON-extraction engine.

A from-scratch Spark-first reimplementation of the query/data-processing
capabilities of the reference library ``xarantolus/jsonextract`` (a Go
streaming JS-object extractor), wrapped in a brand-new distributed crawl
pipeline (URL frontier, seen-set, politeness scheduler) plus the
training-data operators a web-scale corpus pipeline needs (dedup,
similarity search, text analysis).

Layout
------
kernel/     pure-Python extraction kernel (no Spark): byte-identical to the
            reference's Go fixtures (see /root/reference, cited per-function).
functions/  vectorized Arrow/pandas UDFs + URL canonicalization + hashing.
crawl/      frontier, seen-set, robots, scheduler, batch pipeline, synth corpus.
datapipe/   dedup (exact/minhash/simhash), ANN similarity, text stats,
            multimodal column plumbing.
session.py  tuned SparkSession builder.
worker_daemon.py
            Python worker daemon for local masters: zipimporters re-read
            their archive only when it changed, not before every task.
"""

__version__ = "0.1.0"
