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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    )
    if master == "local" or master.startswith("local["):
        # the package root is on PYTHONPATH (above), so the daemon
        # process can import it
        b = b.config("spark.python.daemon.module",
                     "jsonextract_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
