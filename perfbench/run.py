"""Crawl/extract benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds one Spark session on
``local[<cores>]``, sets it up three times (session start, input
generation and a warm-up pass; ``setup_s`` is the median), measures the
workload for ``--seconds``, checks its outputs and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics and writes spans and event-log aggregates to
``perfbench/out/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUPS = 3
VARIANTS = 8         # crawl inputs per workload with stored expected values
DRIVER_HEAP = "1g"
# the extraction table is written as this many files, read one task each
PAGE_FILES = 16
# a budget-capped truncated page costs about as much kernel time as this
# many bytes of ordinary script page
HOSTILE_COST = 600_000
EPOCH = 1_700_000_000

END_TO_END_UNITS = {
    "setup_s": "s", "extract_mb_per_s": "MB/s", "crawl_urls_per_s": "1/s",
    "round_s_p50": "s", "warehouse_bytes_per_url": "B", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "kernel.us_per_kb": "us/KB", "kernel.hostile_ms_per_page": "ms",
    "udfs.python_stage_s": "s", "udfs.python_stages": "count",
    "spark.jobs_per_round": "count", "spark.stages_per_round": "count",
    "spark.shuffle_mb_per_round": "MB",
    "pipeline.driver_s_per_round": "s", "pipeline.init_s": "s",
    "scheduler.a1_s": "s", "seen.gate_s": "s", "seen.filter_merge_s": "s",
    "seen.new_share": "ratio", "tables.save_s": "s",
    "tables.commit_s": "s", "tables.bytes_per_round": "B",
    "trace.overhead_pct": "%",
}


def _env():
    """Keep Spark's scratch files, the JVM's temp dir and the Python
    workers' imports inside the checkout."""
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, pp) if p)
    sys.path[:0] = [ROOT]


def start_session(event_log: str | None = None):
    from jsonextract_spark.session import build_session

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(OUT, "spark-warehouse"),
        # a fixed heap size keeps the JVM's resident size from following
        # the collector's heap-growth decisions
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            f" -Xms{DRIVER_HEAP}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + event_log})
    return build_session("perfbench", master=f"local[{cpus}]",
                         extra_conf=conf)


def stop_session(spark, final: bool = False):
    """Stop the session; on ``final`` also end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if not final:
        _forget_udf_handles()
        return
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _forget_udf_handles():
    """Module-level UDFs cache their JVM handle, which is bound to the
    first session's Python accumulator server. Clear the cache so that a
    restarted session builds fresh handles."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("jsonextract_spark"):
            for v in vars(mod).values():
                udf = getattr(v, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def _stop_resource_tracker():
    """A spawn pool starts multiprocessing's resource tracker, which
    otherwise lives on until this process has exited. End it and wait."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def adopt_orphans():
    """Become the child subreaper (Linux), so that processes orphaned by
    a child — the Python worker daemon when the JVM exits — become this
    process's children and ``reap_children`` waits for them too."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap_children(grace: float = 30.0):
    """Wait until every child process has ended; after ``grace``
    seconds, kill the ones left."""
    _stop_resource_tracker()
    me, deadline = os.getpid(), time.time() + grace
    while True:
        kids = tracing._children().get(me, [])
        if not kids:
            return
        if time.time() > deadline:
            log(f"killing {len(kids)} child process(es) still running")
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass") + b"\n")
    return h.hexdigest()


def log(msg: str):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- workloads ---------------------------------------------------------------

class ExtractScripts:
    """``extract_pages(use_html=True)`` plus a key-filter query over a
    seeded, script-heavy pages table. One operation is one extraction
    job: the object write and the key-filter collect."""

    name = "extract-scripts"

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.n_jobs = 0
        self._expected = None

    def prepare(self, spark):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.rows = inputs.script_pages(self.seed)
        self.html_bytes = sum(len(h) for _, h in self.rows)
        self.pages_dir = os.path.join(self.work, "pages")
        shutil.rmtree(self.pages_dir, ignore_errors=True)
        os.makedirs(self.pages_dir)
        for k, part in enumerate(balanced_files(self.rows)):
            pq.write_table(pa.table({
                "url": pa.array([u for u, _ in part], pa.string()),
                "warc_ts": pa.array(
                    [(EPOCH + i) * 1_000_000 for i in range(len(part))],
                    pa.timestamp("us")),
                "html": pa.array([h for _, h in part], pa.binary()),
                "text": pa.array([h.decode("utf-8", "replace")
                                  for _, h in part], pa.string()),
                "lang": pa.array(["en"] * len(part), pa.string()),
            }), os.path.join(self.pages_dir, f"part-{k:03d}.parquet"))

    def warmup(self, spark):
        self.job(spark)

    def job(self, spark) -> dict:
        from jsonextract_spark import operators

        out = os.path.join(self.work, f"objects-{self.n_jobs}")
        self.n_jobs += 1
        t0 = time.time()
        # one task per file: every file costs more than a split may hold
        spark.conf.set("spark.sql.files.openCostInBytes", str(128 << 20))
        pages = spark.read.parquet(self.pages_dir)
        operators.extract_pages(pages, use_html=True) \
            .write.mode("overwrite").parquet(out)
        hits = operators.first_match_per_doc(
            spark.read.parquet(out), inputs.MATCH_KEYS) \
            .select("url", "pos", "obj").collect()
        t1 = time.time()
        return {"start": t0, "end": t1, "s": t1 - t0, "out": out,
                "hits": {tuple(r) for r in hits}, "urls": len(self.rows),
                "bytes": self.html_bytes}

    def measure(self, spark, seconds: float, tracer=None) -> list[dict]:
        ops, t_end = [], time.time() + seconds
        while not ops or time.time() < t_end:
            if tracer is None:
                ops.append(self.job(spark))
                continue
            sp = tracer.open("extract_job", "udfs")
            tracer.root = sp["id"]
            try:
                ops.append(self.job(spark))
            finally:
                tracer.close(sp)
                tracer.root = None
        return ops

    def attempted(self, ops) -> int:
        return len(self.rows) * len(ops)

    def warehouse_bytes_per_url(self, ops) -> float:
        return (du(self.pages_dir) + du(ops[-1]["out"])) / len(self.rows)

    def expected(self):
        """(url, pos, obj) digest and key-filter hits of an in-process
        extract_objects pass over the same pages."""
        if self._expected is None:
            from multiprocessing import get_context

            with get_context("spawn").Pool(
                    int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
                objs = pool.map(_extract_one, [h for _, h in self.rows],
                                chunksize=4)
            _stop_resource_tracker()
            lines, hits = [], set()
            for (url, _), vals in sorted(zip(self.rows, objs)):
                first = None
                for pos, obj in enumerate(vals):
                    lines.append(f"{url}\t{pos}\t{obj}")
                    if first is None and _has_keys(obj, inputs.MATCH_KEYS):
                        first = (url, pos, obj)
                if first is not None:
                    hits.add(first)
            self._expected = digest(lines), hits
        return self._expected

    def check(self, spark, ops) -> list[str]:
        import pyarrow.parquet as pq

        want_digest, want_hits = self.expected()
        errors = []
        for o in ops:
            t = pq.read_table(o["out"], columns=["url", "pos", "obj"])
            got = sorted(zip(*(t.column(c).to_pylist()
                               for c in ("url", "pos", "obj"))))
            if digest(f"{u}\t{p}\t{v}" for u, p, v in got) != want_digest:
                errors.append(f"{o['out']}: objects differ from the "
                              f"in-process extract_objects pass")
            if o["hits"] != want_hits:
                errors.append(f"{o['out']}: key-filter rows differ")
        return errors

    def kernel_sample(self) -> list[bytes]:
        return [h for _, h in self.rows if not inputs.is_hostile(h)][:40]


def balanced_files(rows) -> list[list]:
    """Split the pages into PAGE_FILES files of about equal extraction
    cost (longest first onto the least-loaded file), so that the task
    makespan does not depend on where the seed put the large pages."""
    def cost(row):
        return HOSTILE_COST if inputs.is_hostile(row[1]) else len(row[1])

    files, load = [[] for _ in range(PAGE_FILES)], [0] * PAGE_FILES
    for row in sorted(rows, key=cost, reverse=True):
        k = load.index(min(load))
        files[k].append(row)
        load[k] += cost(row)
    return files


def _extract_one(html: bytes) -> list[str]:
    from jsonextract_spark.functions.udfs import _budget
    from jsonextract_spark.kernel.scanner import extract_objects

    return [m.decode("utf-8", "replace")
            for m in extract_objects(html, work_budget=_budget(len(html)))]


def _has_keys(obj: str, keys) -> bool:
    """``operators.has_keys`` on one value: every key present at the top
    level with a non-null value."""
    try:
        v = json.loads(obj)
    except ValueError:
        return False
    return isinstance(v, dict) and all(v.get(k) is not None for k in keys)


class CrawlRevisit:
    """A multi-round ``run_crawl`` whose ``fetch_kernel=``/``seeds=``
    hooks serve benchmark-generated pages over a bounded, nav-heavy link
    graph: by the later rounds most discovered links are already seen.
    One operation is one round; a crawl of ``ROUNDS`` rounds starts only
    after the previous one committed, and crawls repeat until the time
    is up."""

    name = "crawl-revisit"
    ROUNDS = 4
    WARM_ROUNDS = 1

    def __init__(self, seed: int, work: str):
        self.work = work
        self.variant = seed % VARIANTS
        self.n_crawls = 0

    def prepare(self, spark):
        self.args = {"seeds": inputs.revisit_seeds(self.variant),
                     "host_budget": 60, "batch_size": 600,
                     "fetch_kernel": inputs.make_revisit_kernel(
                         self.variant)}

    def warmup(self, spark):
        from jsonextract_spark.crawl.pipeline import run_crawl

        run_crawl(spark, os.path.join(self.work, "warm"),
                  rounds=self.WARM_ROUNDS, **self.args)

    def measure(self, spark, seconds: float, tracer=None) -> list[dict]:
        from jsonextract_spark.crawl import pipeline

        rounds: list[dict] = []
        self.crawls: list[tuple[str, list]] = []

        def after_round(wh):
            rounds[-1]["wh_bytes"] = du(wh.root)

        undo = (tracing.patch_crawl(tracer, on_round=after_round)
                if tracer is not None else None)
        orig = pipeline.run_round

        def timed_round(spark_, wh, round_no, *a, **kw):
            r = {"crawl": len(self.crawls), "round": round_no,
                 "start": time.time()}
            rounds.append(r)
            stats = orig(spark_, wh, round_no, *a, **kw)
            r["end"] = time.time()
            r["s"] = r["end"] - r["start"]
            return stats

        pipeline.run_round = timed_round
        try:
            t_end = time.time() + seconds
            while not self.crawls or time.time() < t_end:
                wh = os.path.join(self.work, f"crawl-{self.n_crawls}")
                self.n_crawls += 1
                stats = pipeline.run_crawl(spark, wh, rounds=self.ROUNDS,
                                           **self.args)
                self.crawls.append((wh, stats))
        finally:
            pipeline.run_round = orig
            if undo is not None:
                undo()
        for r in rounds:
            wh, stats = self.crawls[r["crawl"]]
            st = stats[r["round"] - 1]
            r.update(self._ledger(wh, r["round"]), urls=st["fetched"],
                     new=st["new"])
        return rounds

    @staticmethod
    def _ledger(wh: str, round_no: int) -> dict:
        """Fetched page bytes and candidate links of one committed round,
        from its ledger parquet."""
        import pyarrow.parquet as pq

        from jsonextract_spark.crawl.tables import Warehouse

        t = pq.read_table(Warehouse(wh)._path("fetched", round_no),
                          columns=["bytes", "n_links"])
        return {"bytes": sum(t.column("bytes").to_pylist()),
                "links": sum(t.column("n_links").to_pylist())}

    def attempted(self, ops) -> int:
        return len(ops)

    def warehouse_bytes_per_url(self, ops) -> float:
        wh, stats = self.crawls[0]
        return du(wh) / sum(s["fetched"] for s in stats)

    def summary(self, spark, wh: str, stats: list) -> dict:
        """Per-round ledger digests and new counts, the whole ledger's
        digest and the final seen-set size: the values stored in
        expected.json."""
        from jsonextract_spark.crawl.pipeline import crawl_order, load_seen
        from jsonextract_spark.crawl.tables import Warehouse

        rows = crawl_order(spark, wh).collect()
        per_round = [{"round": s["round"], "fetched": s["fetched"],
                      "new": s["new"],
                      "ledger": digest(f"{r['rank']}\t{r['url']}"
                                       for r in rows
                                       if r["batch_id"] == s["round"])}
                     for s in stats]
        w = Warehouse(wh)
        seen = load_seen(spark, w, w.last_committed_round())
        return {"rounds": per_round, "seen": seen.distinct().count(),
                "ledger": digest(f"{r['batch_id']}\t{r['rank']}\t"
                                 f"{r['url']}" for r in rows)}

    def check(self, spark, ops) -> list[str]:
        with open(os.path.join(HERE, "expected.json")) as f:
            want = json.load(f)[self.name][str(self.variant)]
        return [f"{wh}: ledger, new counts or seen set differ from "
                f"expected.json variant {self.variant}"
                for wh, stats in self.crawls
                if self.summary(spark, wh, stats) != want]

    def kernel_sample(self) -> list[bytes]:
        return [inputs.revisit_page(self.variant, u).encode()
                for u in self.args["seeds"][:200]]


WORKLOADS = {w.name: w for w in (ExtractScripts, CrawlRevisit)}


# -- metrics -----------------------------------------------------------------

def end_to_end(wl, ops) -> dict:
    """Figures of the measured operations; rates are the median of the
    per-operation rates."""
    def rate(key):
        return statistics.median(o[key] / o["s"] for o in ops)
    return {
        "extract_mb_per_s": rate("bytes") / 1e6,
        "crawl_urls_per_s": rate("urls"),
        "round_s_p50": statistics.median(o["s"] for o in ops),
        "warehouse_bytes_per_url": wl.warehouse_bytes_per_url(ops),
    }


def tail_note(times: list[float]) -> str:
    """The median plus the highest percentile with at least ten samples
    beyond it, with the sample count."""
    n = len(times)
    note = f"{n} operations; p50 {statistics.median(times):.4f} s"
    if n < 20:
        return note + " (too few for a tail percentile)"
    p = 1 - 10.0 / n
    return note + f"; p{100 * p:.0f} {sorted(times)[int(p * n) - 1]:.4f} s"


def kernel_metrics(samples: list[bytes]) -> dict:
    """The kernel layer on its own: extract_objects in this process,
    with the UDF layer's work budget."""
    from jsonextract_spark.functions.udfs import _budget
    from jsonextract_spark.kernel.scanner import extract_objects

    per_kb = []
    kb = sum(len(h) for h in samples) / 1024.0
    for _ in range(3):
        t0 = time.perf_counter()
        for h in samples:
            extract_objects(h, work_budget=_budget(len(h)))
        per_kb.append((time.perf_counter() - t0) * 1e6 / kb)
    hostile = []
    for h in inputs.hostile_probe_pages():
        t0 = time.perf_counter()
        extract_objects(h, work_budget=_budget(len(h)))
        hostile.append((time.perf_counter() - t0) * 1e3)
    return {"kernel.us_per_kb": statistics.median(per_kb),
            "kernel.hostile_ms_per_page": statistics.median(hostile)}


def layer_metrics(wl, ops, tracer, jobs, stages) -> tuple[dict, list]:
    """Per-layer figures of the traced pass (medians over operations)
    and one row per operation."""
    crawl = isinstance(wl, CrawlRevisit)
    rows, prev_bytes = [], {}
    for o in ops:
        ev = tracing.window_stats(jobs, stages, o["start"], o["end"])
        row = {"s": o["s"], **ev, "driver_s": o["s"] - ev["job_s"]}
        if crawl:
            spans = [sp for sp in tracer.spans
                     if o["start"] <= sp["start"] <= o["end"]]

            def busy(name, table=None):
                return sum(sp["end"] - sp["start"] for sp in spans
                           if sp["name"] == name
                           and table in (None, sp.get("table")))
            row.update({
                "crawl": o["crawl"], "round": o["round"],
                "fetched": o["urls"], "new": o["new"],
                "links": o["links"],
                "new_share": o["new"] / o["links"] if o["links"] else 0.0,
                "a1_s": busy("Warehouse.save", "fetched"),
                "gate_s": busy("Warehouse.save", "frontier_delta"),
                "filter_merge_s": busy("Warehouse.save", "seen_filter"),
                "save_s": busy("Warehouse.save"),
                "commit_s": busy("Warehouse.commit_round"),
                "bytes_written":
                    o["wh_bytes"] - prev_bytes.get(o["crawl"], 0),
            })
            prev_bytes[o["crawl"]] = o["wh_bytes"]
        rows.append(row)

    def med(key):
        return statistics.median(r[key] for r in rows)

    m = {
        "udfs.python_stage_s": med("python_stage_s"),
        "udfs.python_stages": med("python_stages"),
        "spark.jobs_per_round": med("jobs"),
        "spark.stages_per_round": med("stages"),
        "spark.shuffle_mb_per_round": med("shuffle_write_bytes") / 1e6,
        "pipeline.driver_s_per_round": med("driver_s"),
    }
    if not crawl:
        # the crawl layers do no work on this workload
        m.update({k: 0.0 for k in PER_LAYER_UNITS
                  if k.split(".")[0] in ("pipeline", "scheduler", "seen",
                                         "tables") and k not in m})
        return m, rows
    m.update({
        "pipeline.init_s": statistics.median(
            sp["end"] - sp["start"] for sp in tracer.spans
            if sp["name"] == "init_state"),
        "scheduler.a1_s": med("a1_s"),
        "seen.gate_s": med("gate_s"),
        "seen.filter_merge_s": med("filter_merge_s"),
        "seen.new_share": (sum(r["new"] for r in rows)
                           / sum(r["links"] for r in rows)),
        "tables.save_s": med("save_s"),
        "tables.commit_s": med("commit_s"),
        "tables.bytes_per_round": med("bytes_written"),
    })
    return m, rows


# -- run ---------------------------------------------------------------------

def fresh_pass(wl, seconds: float, event_log=None, tracer=None):
    """Warm up and measure in a new session (the JVM is already up).
    Returns (operations, check errors)."""
    spark = start_session(event_log=event_log)
    try:
        wl.warmup(spark)
        ops = wl.measure(spark, seconds, tracer=tracer)
        return ops, wl.check(spark, ops)
    finally:
        stop_session(spark, final=event_log is None)


def traced_pass(args, wl, work: str, before_p50: float):
    """Measure again in a session that writes an event log, with spans
    on, then once more untraced; write the trace file. The overhead
    compares the traced median with the mean of the untraced medians
    before and after it, which cancels the JVM's continued warming.
    Returns (per-layer metrics, operations, errors)."""
    evdir = os.path.join(work, "eventlog")
    tracer = tracing.Tracer()
    ops, errors = fresh_pass(wl, args.seconds, evdir, tracer)
    after, more_errors = fresh_pass(wl, args.seconds)
    jobs, stages = tracing.read_event_log(evdir)
    layers, rows = layer_metrics(wl, ops, tracer, jobs, stages)
    layers.update(kernel_metrics(wl.kernel_sample()))
    traced_p50 = statistics.median(o["s"] for o in ops)
    after_p50 = statistics.median(o["s"] for o in after)
    layers["trace.overhead_pct"] = 100.0 * (
        2 * traced_p50 / (before_p50 + after_p50) - 1)
    if isinstance(wl, CrawlRevisit):
        log("seen.new_share per round: " + " ".join(
            f"{r['new_share']:.3f}" for r in rows))
    path = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "untraced_round_s_p50": [before_p50, after_p50],
                   "traced_round_s_p50": traced_p50,
                   "overhead_pct": layers["trace.overhead_pct"],
                   "metrics": layers,
                   "self_s_per_layer": tracing.self_times(tracer.spans),
                   "per_operation": rows, "spans": tracer.spans,
                   "jobs": jobs, "stages": stages}, f, indent=1)
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    return layers, ops + after, errors + more_errors


def run(args) -> dict:
    work = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                stop_session(spark)
            spark = start_session()
            wl.prepare(spark)
            wl.warmup(spark)
            setups.append(time.perf_counter() - t0)
        log("set-up times: " + " ".join(f"{s:.3f}" for s in setups))

        ops = wl.measure(spark, args.seconds)
        rss = tracing.tree_peak_rss_mb()
        errors = wl.check(spark, ops)
        stop_session(spark, final=args.trace == 0)
        spark = None
        log("operation times: " + " ".join(f"{o['s']:.3f}" for o in ops))
        log(tail_note([o["s"] for o in ops]))
        attempted = wl.attempted(ops)
        e2e = end_to_end(wl, ops)

        if args.trace:
            metrics, traced, more_errors = traced_pass(
                args, wl, work, e2e["round_s_p50"])
            errors += more_errors
            attempted += wl.attempted(traced)
            units = PER_LAYER_UNITS
        else:
            metrics = dict(e2e, setup_s=statistics.median(setups),
                           peak_rss_mb=rss)
            units = END_TO_END_UNITS
    finally:
        if spark is not None:
            stop_session(spark, final=True)
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        log("CHECK FAILED: " + e)
    return {"correct": not errors, "attempted": attempted,
            "failed": attempted if errors else 0,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _env()
    try:
        import jsonextract_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the package from {ROOT}: {e}")
        sys.exit(2)
    adopt_orphans()
    try:
        result = run(args)
    finally:
        reap_children()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
