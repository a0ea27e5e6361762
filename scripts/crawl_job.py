"""spark-submit entry point for the crawl (north_rule deployment shape).

Usage:
    scripts/make_pyfiles.sh                      # builds dist/jsonextract_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/jsonextract_spark.zip \
        scripts/crawl_job.py --rounds 3 --warehouse /path/wh --seeds 1000

On a cluster, executors import the package from the shipped zip; no
code needs to be preinstalled on workers.
"""

import argparse

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--seeds", type=int, default=100)
    ap.add_argument("--host-budget", type=int, default=5)
    ap.add_argument("--batch-size", type=int, default=512)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--default-delay-sec", type=float, default=None,
                    help="politeness floor for hosts whose robots.txt "
                         "is silent about rate (default 0 on the "
                         "synthetic corpus)")
    ap.add_argument("--hot-host", action="append", default=None,
                    help="host cleared for full-rate salted fetching "
                         "(repeatable)")
    args = ap.parse_args()

    spark = (SparkSession.builder.appName("jsx-crawl")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    from jsonextract_spark.crawl import synth
    from jsonextract_spark.crawl.pipeline import run_crawl

    # the politeness config is the fetch kernel's advertised attributes
    kernel = synth.make_fetch_extract()
    kernel.default_delay_sec = args.default_delay_sec or 0.0
    kernel.hot_hosts = args.hot_host
    stats = run_crawl(spark, args.warehouse, args.rounds, args.seeds,
                      args.host_budget, args.batch_size,
                      resume=args.resume, fetch_kernel=kernel)
    for s in stats:
        print(s)
    spark.stop()


if __name__ == "__main__":
    main()
