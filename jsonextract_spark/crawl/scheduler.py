"""Frontier pop: robots gate, priority scoring, per-host politeness top-k.

Scale notes
-----------
* robots and host_stats are per-host tables, and the pop joins them on
  ``host`` without hints: Spark's size-based planner
  (``autoBroadcastJoinThreshold`` plus AQE's runtime sizes) broadcasts
  them while they are small and falls back to a shuffle join when they
  are not. (The pipeline's synthetic robots table, whose size is a
  constant, carries its own broadcast hint.)
* per-host budget is a top-k per group. A bare window over ``host``
  sorts each host's rows inside one task — with 10^9 URLs on one hot
  host that task is the straggler. Since r7 the primary path is the
  plain rank-filter window, because Catalyst compiles it to
  **WindowGroupLimit** (SPARK-37099, Spark ≥3.5): a MAP-SIDE partial
  top-k per group below the exchange plus a final per-group limit
  above it — the engine-native form of the salted two-phase pop, with
  only ≤ k rows per group PER MAP TASK ever crossing the shuffle
  (measured 1.5× faster than the hand-salted form at a 16M-row hot
  host; bench_pop_skew publishes engine vs hand-salted vs
  optimization-disabled). The hand-rolled **salted two-phase top-k**
  (phase 1 top-k within (host, salt) over S salts, phase 2 re-rank of
  the ≤ k·S survivors) remains as the fallback for k above
  ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000),
  where the optimizer declines the rewrite. Both satisfy north_star's
  "salted repartitioning to defeat host skew"; equality of the two is
  test-pinned.
* all orderings have total tie-breaks (priority DESC, depth ASC, url ASC)
  so the pop is identical at any parallelism — required for reproducible
  crawl ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SALT_PARTS = 16

# THE politeness floor for live crawling, shared by every layer that
# gates or paces per-host traffic (scheduler eligibility gate, pop
# cap, salting exemption, kernel pacer): hosts whose robots.txt is
# silent about rate are hit at most once per this many seconds. HTTP
# kernels advertise it on the returned callable, run_round hands the
# advertised floor to pop_batch, and every layer reads pop_batch's
# eff_delay, so they can never disagree; a CUSTOM kernel that
# advertises nothing also gets this value (polite by default). The
# only zero-floor path is the synthetic no-network corpus
# (fetch_kernel=None), where run_round pins 0.0 explicitly.
DEFAULT_POLITENESS_FLOOR_SEC = 1.0

# Automatic hot-host detection (r9): a host whose PENDING frontier
# rows reach this count is treated as hot for the round — salted
# delay-free routing — without an operator having to list it (at
# 10^10 URLs nobody hand-lists the mirror that owns half the
# frontier). Only the DEFAULT floor is waived: an explicit robots
# Crawl-delay/Request-rate ask always wins, listed ``hot_hosts``
# remain the manual override, and the detection column rides the
# top-k's own host partitioning (no extra shuffle). Pass ``None`` to
# disable.
AUTO_HOT_MIN_PENDING = 100_000


def _two_phase_salted_top_k(df: DataFrame, group_cols: list[str],
                            order_cols: list, k: int,
                            salts: int = SALT_PARTS,
                            salt_on: str = "url") -> DataFrame:
    """Hand-rolled skew-proof top-k: phase 1 bounds every task at k
    rows per (group, salt); phase 2 re-ranks the ≤ k·salts survivors.
    Fallback for k past the WindowGroupLimit threshold — and the
    explicit form of what that optimizer rule does engine-side."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_on)), F.lit(salts)))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    phase1 = (salted.withColumn("_r1", F.row_number().over(w1))
                    .filter(F.col("_r1") <= k)
                    .drop("_salt", "_r1"))
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (phase1.withColumn("rank_in_group", F.row_number().over(w2))
                  .filter(F.col("rank_in_group") <= k))


def salted_top_k_per_group(df: DataFrame, group_cols: list[str],
                           order_cols: list, k: int,
                           salts: int = SALT_PARTS,
                           salt_on: str = "url") -> DataFrame:
    """Deterministic top-k per group that survives heavy group skew.

    ``order_cols`` must define a total order (include a unique
    tie-break); ``salt_on`` only matters on the fallback path.

    Primary path: the plain rank-filter window — Catalyst's
    WindowGroupLimit rewrite (see module docstring) plans a map-side
    partial top-k per group BELOW the shuffle, so the hot group never
    lands in one task and only ≤ k rows per group per map task are
    shuffled. Falls back to the explicit salted two-phase form when
    ``k`` exceeds the optimizer's rewrite threshold (the rewrite would
    silently not fire and the bare window would re-open the straggler)."""
    try:
        threshold = int(df.sparkSession.conf.get(
            "spark.sql.optimizer.windowGroupLimitThreshold"))
    except Exception:
        # conf absent ⇒ Spark < 3.5 ⇒ the WindowGroupLimit rule does
        # not exist AT ALL there — the safe direction is the explicit
        # two-phase form, never the bare window (which would be a
        # single-task hot-group sort on such a runtime)
        threshold = -1
    if threshold < 0 or k > threshold:
        # rewrite disabled (-1) or k past it: the bare window would
        # silently re-open the single-task hot-group straggler
        return _two_phase_salted_top_k(df, group_cols, order_cols, k,
                                       salts, salt_on)
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("rank_in_group", F.row_number().over(w))
              .filter(F.col("rank_in_group") <= k))


def pop_batch(frontier: DataFrame, robots: DataFrame, host_budget: int,
              batch_size: int, salts: int = SALT_PARTS,
              host_stats: DataFrame | None = None,
              now_ts: float | None = None,
              politeness_budget_sec: float = 15.0,
              default_delay_sec: float = 0.0,
              hot_hosts=None,
              auto_hot_min_pending: int | None = AUTO_HOT_MIN_PENDING
              ) -> DataFrame:
    """Select this round's fetch set.

    frontier:   url, url_hash, host, depth, priority
    robots:     host, allowed, optionally crawl_delay
                (the host's robots Crawl-delay ask in seconds, null when
                unspecified — carried onto the batch)
    host_stats: host, crawled (cumulative fetch count),
                last_fetch_ts (epoch seconds of the host's newest
                fetch). When given, effective priority is
                discounted by how much of the host's budget history is
                already spent (north_star: "depth + host-budget
                scoring").
    now_ts:     when given alongside an effective delay + last_fetch_ts,
                hosts whose last fetch is younger than their delay are
                ineligible THIS round (their frontier rows simply aren't
                popped) — without this gate, within-task pacing honors
                the delay inside a round but consecutive rounds hit the
                host at full rate.
    default_delay_sec / hot_hosts: the POLITENESS FLOOR for hosts whose
                robots.txt is silent about rate — an explicit robots ask
                always wins; hosts in ``hot_hosts`` (an operator-marked
                small collection that the caller has clearance to hit at
                full parallel rate) are exempt and stay salted. The
                resulting per-row ``eff_delay`` (null = unconstrained)
                drives the cross-round gate and the per-round pop cap
                here, and single-task routing + within-round pacing in
                the pipeline/kernel. This is the ONE place a host's
                delay is decided; the fetch kernel only lets a per-path
                robots ask override it.
    auto_hot_min_pending: hosts whose pending frontier rows reach this
                count are ALSO floor-exempt for the round (automatic
                hot-host detection — see ``AUTO_HOT_MIN_PENDING``); an
                explicit robots ask still wins, and the count window
                shares the top-k's host partitioning, so detection
                costs no extra exchange. ``None`` disables.
    The aux joins add no hints; the engine picks broadcast or shuffle
    from the tables' sizes.
    Returns the batch with a deterministic global ``rank`` and the
    ``eff_delay`` politeness column.
    """
    allowed = (frontier
               .join(robots, "host", "left")
               .filter(F.coalesce(F.col("allowed"), F.lit(True)))
               .drop("allowed"))
    ask = (F.col("crawl_delay") if "crawl_delay" in robots.columns
           else F.lit(None).cast("double"))
    floor = (F.lit(float(default_delay_sec)) if default_delay_sec > 0
             else F.lit(None).cast("double"))
    if hot_hosts:
        floor = (F.when(F.col("host").isin(list(hot_hosts)),
                        F.lit(None).cast("double"))
                 .otherwise(floor))
    if auto_hot_min_pending is not None and default_delay_sec > 0:
        # automatic hot-host detection: pending-count window over the
        # same host key the top-k partitions by (one exchange serves
        # both); only the default floor is waived — the coalesce below
        # still lets any explicit robots ask win
        pending = F.count(F.lit(1)).over(Window.partitionBy("host"))
        floor = (F.when(pending >= F.lit(int(auto_hot_min_pending)),
                        F.lit(None).cast("double"))
                 .otherwise(floor))
    allowed = allowed.withColumn("eff_delay", F.coalesce(ask, floor))
    if host_stats is not None:
        allowed = (allowed
                   .join(host_stats, "host", "left")
                   .withColumn(
                       "priority",
                       F.col("priority") /
                       (F.lit(1.0) + F.log1p(
                           F.coalesce(F.col("crawled"), F.lit(0.0))))))
        if now_ts is not None:
            # gate ONLY hosts with an effective delay (robots ask or
            # the configured floor): an unconstrained host must never
            # be filtered — a coalesce(delay, 0) form would reduce to
            # last_fetch_ts <= now for every host, which is vacuous
            # locally but stalls whole rounds under executor-vs-driver
            # clock skew on a real cluster. With a floor the gate is a
            # real intentional rate: worst-case skew delays a host by
            # skew+floor seconds, it cannot stall the round.
            allowed = allowed.filter(
                F.col("eff_delay").isNull()
                | F.col("last_fetch_ts").isNull()
                | (F.col("last_fetch_ts") + F.col("eff_delay")
                   <= F.lit(float(now_ts))))
        allowed = allowed.drop("crawled", "last_fetch_ts")

    order = [F.col("priority").desc(), F.col("depth").asc(),
             F.col("url").asc()]
    per_host = salted_top_k_per_group(
        allowed, ["host"], order, host_budget, salts)
    # a delay-constrained host's URLs run sequentially in ONE task
    # spaced eff_delay apart, so popping k of them occupies that task
    # ~(k-1)*delay seconds — cap k by ``politeness_budget_sec`` so a
    # single polite host can't straggle the whole round (its remaining
    # URLs simply stay in the frontier for later rounds)
    limit = F.when(
        F.col("eff_delay").isNotNull() & (F.col("eff_delay") > 0),
        F.least(
            F.lit(host_budget),
            (F.lit(1) + F.floor(
                F.lit(float(politeness_budget_sec))
                / F.col("eff_delay"))).cast("int"))
    ).otherwise(F.lit(host_budget))
    per_host = per_host.filter(F.col("rank_in_group") <= limit)

    # Global cap: orderBy+limit compiles to TakeOrderedAndProject — a
    # distributed tree top-k, NOT a single-task global sort. The dense
    # rank (the crawl order the determinism tests pin) is then assigned
    # over the already-capped batch, which is bounded by batch_size, so
    # the single-partition window is O(batch), never O(frontier).
    capped = per_host.drop("rank_in_group").orderBy(*order).limit(batch_size)
    w = Window.orderBy(F.col("priority").desc(), F.col("depth").asc(),
                       F.col("url").asc())
    return capped.withColumn("rank", F.row_number().over(w))


def priority_of(depth_col):
    """Scoring per north_star: BFS-flavored depth decay. The discount by
    how much of the host's budget has been consumed is applied at pop
    time (``pop_batch``), from the round's host stats."""
    if isinstance(depth_col, str):
        depth_col = F.col(depth_col)
    return F.lit(1.0) / (F.lit(1.0) + depth_col)
