"""Tuned SparkSession builder.

Defaults are sized for the sandbox (local[N], 32 cores) but every knob is
the one you'd set on a real cluster: AQE on (skew joins, coalesced
shuffle), Arrow on (all our extraction UDFs are Arrow-batched), and a
shuffle partition count that tracks parallelism instead of the static 200.

Local masters (``local``, ``local[N]``) also start Python workers from
``jsonextract_spark.worker_daemon``, which stops every task from
re-reading ``pyspark.zip``'s directory (see that module). Other masters
keep PySpark's daemon: there the package reaches workers through
``--py-files`` only after the daemon has started. A cluster that has the
package importable when the daemon starts can set the same
``spark.python.daemon.module``.

A session runs one Python worker pool. Spark starts one worker daemon
per distinct worker environment, and every SQL Python runner (Arrow
UDFs, ``mapInPandas``) shares one environment. A PythonRDD, which is
what ``spark.createDataFrame`` makes of a Python list or of an empty
pandas frame, runs its workers without the SQL runners'
``SPARK_SIMPLIFIED_TRACEBACK`` variable, so Spark would start a second
daemon and a second set of workers for it. The crawl therefore builds
its small driver-side tables through Arrow
(``crawl.tables.local_table``), which needs no Python worker at all.

Two defaults remove fixed per-call costs that a steady crawl round
paid without doing any crawl work:

* ``spark.sql.codegen.cache.maxEntries`` is ``CODEGEN_CACHE_ENTRIES``
  (Spark's default is 100). The JVM caches each class it compiles from
  generated code, keyed by its class loader and source. One crawl
  fills more than 100 entries, so the cache thrashed: the rounds of a
  repeated crawl recompiled 23-57 classes each, although every source
  had been compiled before. The size covers the measured working set
  of a crawl plus ``bench.py``'s crawl and datapipe leaves, with
  headroom; the crawl's ``codegen_compiles`` round metric shows
  whether it still holds. It is a STATIC conf, read once per JVM when
  code is first generated: it takes effect only if ``build_session``
  creates the JVM's first session.
* ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``. When on
  (PySpark's default), every DataFrame and Column function call looks
  up the active session, reads a conf, sets and clears the JVM's
  Python call-site origin, and tries to import IPython: several
  extra Python-to-JVM calls per function, about half of a crawl
  round's Py4J traffic. The cost of turning it off: an analysis
  error's DataFrame query context no longer names the Python call
  site.

A caller's ``extra_conf`` overrides both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the codegen cache size (see above). Measured working set, in entries
# an unbounded cache filled on 4 cores: 134 for perfbench's 4-round
# crawl-revisit crawl; 455 after bench.py's crawl, compaction, pop-skew
# and datapipe leaves (sf0.001) ran in the same session
CODEGEN_CACHE_ENTRIES = 1000


def build_session(app: str = "jsonextract_spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    # Executor Python workers inherit PYTHONPATH, not the driver's
    # sys.path — make the package importable on workers regardless of
    # the launch cwd. (On a cluster, ship it via --py-files instead:
    # scripts/make_pyfiles.sh.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else ""))

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; on a real cluster set ~2-3x total executor cores.
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)

    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        # the package root is on PYTHONPATH (above), so the daemon
        # process can import it
        b = b.config("spark.python.daemon.module",
                     "jsonextract_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
