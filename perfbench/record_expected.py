"""Record the crawl workload's expected outputs into expected.json.

    python3 perfbench/record_expected.py

Runs one crawl per input variant of the crawl workload and stores its
per-round ledger digests, per-round new counts and final seen-set size.
Run it only when a change is meant to alter crawl order or the seen
set; the benchmark's output check compares every measured crawl
against these values.
"""

from __future__ import annotations

import json
import os
import shutil

import run


def main():
    run._env()
    work = os.path.join(run.OUT, f"record-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    from jsonextract_spark.crawl.pipeline import run_crawl

    expected = {}
    spark = run.start_session()
    try:
        for v in range(run.VARIANTS):
            wl = run.CrawlRevisit(v, work)
            wl.prepare(spark)
            wh = os.path.join(work, f"crawl-{v}")
            stats = run_crawl(spark, wh, rounds=wl.ROUNDS, **wl.args)
            expected[str(v)] = got = wl.summary(spark, wh, stats)
            print(v, [(r["fetched"], r["new"]) for r in got["rounds"]],
                  got["seen"], flush=True)
    finally:
        run.stop_session(spark, final=True)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump({run.CrawlRevisit.name: expected}, f, indent=1,
                  sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
