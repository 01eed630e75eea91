"""Crawl politeness: robots.txt rule matching + per-host crawl-delay
scheduling — the two crawler-side operators a webtext ingest runs before any
fetch reaches extraction.

robots_filter
-------------
Google/REP semantics on a rules table ``(host, prefix, allow)``: among the
rules of a URL's host whose prefix matches the path, the LONGEST prefix wins;
on a length tie, allow beats disallow; no matching rule means allowed.
Re-expressed relationally: one equi-join on ``host`` (broadcast when the
ruleset is small; plain shuffled equi-join when millions of hosts' robots
rules don't fit — either way never a cross product), prefix test as
``startswith``, winner via ONE ``max_by`` hash-aggregate on the
``(len(prefix), allow)`` pair — no window, no per-doc sort.

politeness_schedule
-------------------
Crawl-delay queueing: per host, fetch i may start no earlier than its own
ready time and no earlier than fetch i-1's start + delay:

    sched_i = max(ts_i, sched_{i-1} + d)

The recurrence looks inherently sequential, but unrolls to a prefix maximum:

    sched_i = i*d + max_{j<=i}(ts_j - j*d)

so it is ONE running-max window per host — no iterative loop, no UDF, and
the same closed form a DuckDB/ANSI window computes, which is what makes the
operator oracle-able.  Cost at scale: a single hash Exchange on host + one
per-host sort; the per-host summary aggregation reuses the same hash
partitioning, so the whole operator is one shuffle.  Hot hosts are the
skew risk, but politeness is *semantically* serial per host — the schedule
for a 10M-page host is long because the crawl rule says it must be.

Reference analogue: none (the reference reads local files); this is the
north-rule crawl-ingest generalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def robots_filter(
    pages: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
    broadcast_rules: bool = True,
) -> DataFrame:
    """Add ``is_allowed`` to ``pages`` per REP longest-match semantics.

    ``rules`` columns: ``host string, prefix string, allow boolean``.
    Rules for other hosts never match (equi-join); a page with no matching
    rule is allowed.  Keeps every page row exactly once.
    """
    r = rules.select(
        F.col("host").alias("__r_host"),
        F.col("prefix").alias("__r_prefix"),
        F.col("allow").alias("__r_allow"),
    )
    if broadcast_rules:
        r = F.broadcast(r)
    matched = (
        pages.join(r, pages[host_col] == F.col("__r_host"), "left")
        .withColumn(
            "__hit",
            F.col("__r_prefix").isNotNull()
            & F.col(path_col).startswith(F.col("__r_prefix")),
        )
        # decision key: longest matching prefix; allow wins length ties.
        .withColumn(
            "__rank",
            F.when(
                F.col("__hit"),
                F.length("__r_prefix") * 2 + F.col("__r_allow").cast("int"),
            ).otherwise(F.lit(-1)),
        )
    )
    grp = [F.col(c) for c in pages.columns]
    return matched.groupBy(*grp).agg(
        F.when(F.max("__rank") < 0, F.lit(True))
        .otherwise(F.max_by(F.col("__r_allow"), F.col("__rank")))
        .alias("is_allowed")
    )


def politeness_schedule(
    fetches: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts_us",
    order_cols: tuple[str, ...] = (),
    delay_us: int = 5_000_000,
    sched_col: str = "sched_us",
) -> DataFrame:
    """Assign each fetch its politeness-compliant start time (``sched_col``,
    epoch microseconds) via the prefix-max closed form above.  ``ts_col``
    must already be epoch-us BIGINT so every step is exact integer math
    (identical in the DuckDB twin).  ``order_cols`` break ready-time ties
    deterministically.

    Scale note (the one per-host window this repo keeps): the recurrence
    ``sched_i = max(ts_i, sched_{i-1} + delay)`` is a true sequential
    dependency — unlike the rank windows replaced in round 5, it cannot be
    range-split without changing answers, because any cut point needs the
    running max from the left segment.  The window task is bounded by
    PHYSICS, not corpus size: rows per host are candidate fetches for one
    scheduling horizon, and a host crawled AT the politeness delay absorbs
    only 86.4M/delay_us fetches/day (17.3k at the 5s default) — a hot host
    with a year of backlog is ~6M narrow (host, ts) rows in one spillable
    sort, while the corpus can grow 100× in HOSTS without touching that
    bound.  If a queue ever exceeds the horizon bound, cap the INPUT
    (schedule the earliest N per host this horizon — a groupBy/min_by
    selection, not a window) rather than splitting the recurrence: a
    (host, day) pre-split silently resets backlog at day boundaries and
    under-delays exactly the hosts politeness exists to protect."""
    w = Window.partitionBy(host_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    k = (F.row_number().over(w) - 1).cast("bigint")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = fetches.withColumn("__k", k).withColumn(
        "__base", F.col(ts_col) - F.col("__k") * F.lit(delay_us)
    )
    return staged.withColumn(
        sched_col, F.col("__k") * F.lit(delay_us) + F.max("__base").over(run)
    ).drop("__k", "__base")


def host_schedule_summary(
    scheduled: DataFrame,
    host_col: str = "host",
    ts_col: str = "ts_us",
    sched_col: str = "sched_us",
) -> DataFrame:
    """Per-host audit of a politeness schedule: fetch count, total imposed
    wait, and makespan — all exact BIGINT microseconds.  Groups on the same
    key the schedule window partitioned by, so Catalyst reuses the exchange."""
    return scheduled.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.col(sched_col) - F.col(ts_col)).cast("bigint").alias(
            "total_wait_us"
        ),
        (F.max(sched_col) - F.min(ts_col)).cast("bigint").alias("makespan_us"),
    )


def crawl_budget_waterfill(
    demands: DataFrame,
    budget: int,
    host_col: str = "host",
    demand_col: str = "demand",
    alloc_col: str = "alloc",
) -> DataFrame:
    """Exact max-min-fair (water-filling) allocation of a global crawl
    budget across hosts: every host gets min(demand, L) fetch slots where L
    is the water level with Σ min(demand, L) ≤ budget < Σ min(demand, L+1),
    and the remaining `budget − Σ min(demand, L)` slots go one each to the
    largest-demand capped hosts (demand DESC, host ASC — deterministic).
    Σ alloc == min(budget, Σ demand) exactly.

    The waterfill looks iterative but has a histogram closed form (the T64/
    T65 pattern): aggregate hosts to DISTINCT demand values, prefix-sum the
    histogram (a window over distinct demands only), locate the breakpoint
    row v with A(v) ≤ budget < A(next), and solve L = v + ⌊(budget−A(v)) /
    n_gt(v)⌋ — all exact integer arithmetic, one scalar row broadcast back.
    The only per-host passes are one hash agg and one bounded window over
    the CAPPED hosts (d > L) for remainder assignment.

    Reference analogue: none; north-rule crawl-frontier generalization.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    d = F.col(demand_col)
    hist = demands.groupBy(d.alias("_v")).agg(
        F.count(F.lit(1)).alias("_nh")
    )
    # virtual d=0 row makes the below-min-demand case uniform
    zero = demands.sparkSession.createDataFrame([(0, 0)], "_v long, _nh long")
    hist = zero.unionByName(hist.select(F.col("_v").cast("long"), "_nh"))
    w_ord = Window.orderBy("_v")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bp = (
        hist.withColumn("_cum_d", F.sum(F.col("_v") * F.col("_nh")).over(w_cum))
        .withColumn("_cum_nh", F.sum("_nh").over(w_cum))
        .withColumn("_tot_nh", F.sum("_nh").over(w_all))
        .withColumn("_n_gt", F.col("_tot_nh") - F.col("_cum_nh"))
        .withColumn("_A", F.col("_cum_d") + F.col("_v") * F.col("_n_gt"))
        .filter(F.col("_A") <= F.lit(budget))
        .orderBy(F.desc("_v"))
        .limit(1)
        .select(
            F.when(
                F.col("_n_gt") > 0,
                F.col("_v")
                + F.floor((F.lit(budget) - F.col("_A")) / F.col("_n_gt")),
            )
            .otherwise(F.col("_v"))
            .cast("long")
            .alias("_level"),
            "_A",
            "_v",
            "_n_gt",
        )
        .select(
            "_level",
            (
                F.lit(budget)
                - (F.col("_A") + (F.col("_level") - F.col("_v")) * F.col("_n_gt"))
            ).cast("long").alias("_leftover"),
        )
    )
    staged = demands.crossJoin(F.broadcast(bp)).withColumn(
        "_capped", d > F.col("_level")
    )
    ranked = staged.withColumn(
        "_rk",
        F.when(
            F.col("_capped"),
            F.row_number().over(
                Window.partitionBy("_capped").orderBy(
                    F.desc(demand_col), F.asc(host_col)
                )
            ),
        ).otherwise(F.lit(None)),
    )
    return ranked.select(
        host_col,
        d.alias(demand_col),
        (
            F.least(d, F.col("_level"))
            + F.when(
                F.col("_capped") & (F.col("_rk") <= F.col("_leftover")), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("long").alias(alloc_col),
    )


def sitemap_coverage(
    declared: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Sitemap-vs-crawl coverage audit per host: of the URLs a publisher
    DECLARED (T127 sitemap harvest), how many did the crawl actually
    fetch — and how much of the fetch log the publisher never declared.
    The two gaps drive opposite actions: low crawl coverage → raise the
    host's budget (T70); a large undeclared remainder → the crawler is
    burning budget on URLs the publisher doesn't vouch for (calendar
    traps, session URLs — cross-check T119 templates).

    One full-outer equi-join of the two DISTINCT url sets (co-partitioned
    on the url key, no fan-out), host derived from the url in the same
    projection, one map-side-combinable rollup.  Exact integer ppm;
    a host with no declared URLs reports NULL coverage (0/0 is a fact to
    surface, not a zero).

    Returns (host, n_sitemap, n_crawled, n_both, coverage_ppm,
    undeclared_ppm).
    """
    from ..functions.urls import url_host

    d = declared.select(F.col(url_col).alias("u")).distinct().withColumn(
        "_d", F.lit(1)
    )
    c = crawled.select(F.col(url_col).alias("u")).distinct().withColumn(
        "_c", F.lit(1)
    )
    j = d.join(c, "u", "full_outer").select(
        url_host(F.col("u")).alias("host"), "_d", "_c"
    )
    per = j.groupBy("host").agg(
        F.sum(F.coalesce("_d", F.lit(0))).cast("bigint").alias("n_sitemap"),
        F.sum(F.coalesce("_c", F.lit(0))).cast("bigint").alias("n_crawled"),
        F.sum(
            F.when(F.col("_d").isNotNull() & F.col("_c").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_both"),
    )
    return per.select(
        "host",
        "n_sitemap",
        "n_crawled",
        "n_both",
        F.when(
            F.col("n_sitemap") > 0,
            F.floor(F.lit(1000000.0) * F.col("n_both") / F.col("n_sitemap")),
        ).alias("coverage_ppm"),
        F.when(
            F.col("n_crawled") > 0,
            F.floor(
                F.lit(1000000.0)
                * (F.col("n_crawled") - F.col("n_both"))
                / F.col("n_crawled")
            ),
        ).alias("undeclared_ppm"),
    )


def bot_regularity(
    events: DataFrame,
    actor_col: str = "user_id",
    ts_us_col: str = "ts_us",
    id_col: str = "event_id",
    min_gaps: int = 4,
    gap_unit_us: int = 60_000_000,
) -> DataFrame:
    """Metronome detection: per actor, the squared coefficient of variation
    of inter-event gaps as exact integer ppm — automated clients (cron
    crawlers, scrapers hitting a calendar trap) fire at near-constant
    intervals (cv² ≈ 0) while organic traffic is bursty (cv² ≳ 1).  The
    timing-side bot signal next to T63/T64's declared politeness: robots
    compliance tells you who ASKED, this tells you who is a MACHINE.

    Exact arithmetic end-to-end: timestamps quantized to integer gap units
    (``gap_unit_us``, default minutes — keeps every intermediate product
    within int64 for 10⁶ events/actor at month spans), then
    cv²·10⁶ = (10⁶·(n·Σg² − S²)) DIV S² — integer DIV, no float anywhere.
    One lag() window per actor (bounded by actor history, the T71 window
    discipline) + one map-side-combinable aggregate.

    Returns (actor, n_gaps, mean_gap_units, cv2_ppm); actors with fewer
    than ``min_gaps`` gaps or zero total gap are dropped (no stable
    regularity estimate exists for them — documented).
    """
    gaps = (
        events.select(
            F.col(actor_col).alias("actor"),
            F.col(ts_us_col).alias("_us"),
            F.col(id_col).alias("_id"),
        )
        .withColumn("_prev", F.lag("_us").over(
            Window.partitionBy("actor").orderBy("_us", "_id")))
        .filter(F.col("_prev").isNotNull())
        .select(
            "actor",
            F.expr(f"CAST((_us - _prev) DIV {gap_unit_us} AS BIGINT)").alias(
                "_g"
            ),
        )
    )
    agg = gaps.groupBy("actor").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("_g").cast("bigint").alias("_s"),
        F.sum(F.col("_g") * F.col("_g")).cast("bigint").alias("_sq"),
    )
    return (
        agg.filter((F.col("n_gaps") >= min_gaps) & (F.col("_s") > 0))
        .select(
            "actor",
            "n_gaps",
            F.expr("CAST(_s DIV n_gaps AS BIGINT)").alias("mean_gap_units"),
            F.expr(
                "CAST((1000000 * (n_gaps * _sq - _s * _s)) DIV (_s * _s)"
                " AS BIGINT)"
            ).alias("cv2_ppm"),
        )
    )


def rate_bursts(
    events: DataFrame,
    actor_col: str = "actor",
    ts_us_col: str = "ts_us",
    baseline_hours: int = 3,
    factor_num: int = 2,
    factor_den: int = 1,
) -> DataFrame:
    """Traffic-burst detection per actor: an hour is a BURST when its
    event count exceeds (factor_num/factor_den)× the trailing
    *baseline_hours* average — the complementary rate-side crawl/abuse
    signal to T156's regularity (metronomes are steady, scrapers spike).
    The comparison is cross-multiplied so everything stays exact int64:

        n · factor_den · baseline_hours  >  factor_num · trailing_sum

    Missing (zero-event) hours are handled by a RANGE frame over the
    integer hour number — gaps contribute 0 to the baseline without a
    dense hour spine; activity after total silence flags (trailing 0).
    Hours earlier than first_active_hour + baseline_hours are withheld
    (no full baseline WINDOW in time yet), not reported un-flagged.

    Scale shape: events collapse to (actor, hour) counts in ONE
    map-side-combinable agg; the trailing window is bounded per actor by
    its active-hour count, and the frame itself by *baseline_hours*.

    Returns (actor, hour_num, n_events, trailing_sum, is_burst).
    """
    us_per_hour = 3_600_000_000
    h = events.groupBy(
        F.col(actor_col).alias("actor"),
        F.expr(f"{ts_us_col} div {us_per_hour}").alias("hour_num"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return rate_bursts_from_counts(
        h,
        baseline_hours=baseline_hours,
        factor_num=factor_num,
        factor_den=factor_den,
    )


def rate_bursts_from_counts(
    h: DataFrame,
    baseline_hours: int = 3,
    factor_num: int = 2,
    factor_den: int = 1,
) -> DataFrame:
    """Burst evaluation over a PRE-AGGREGATED (actor, hour_num, n_events)
    table: counts are the mergeable statistic, so evaluating a table of
    folded hourly counts equals evaluating the raw events.  Semantics
    identical to :func:`rate_bursts`, which calls it."""
    w_trail = (
        Window.partitionBy("actor")
        .orderBy("hour_num")
        .rangeBetween(-baseline_hours, -1)
    )
    w_all = Window.partitionBy("actor")
    scored = h.select(
        "actor",
        "hour_num",
        "n_events",
        F.coalesce(F.sum("n_events").over(w_trail), F.lit(0))
        .cast("bigint")
        .alias("trailing_sum"),
        F.min("hour_num").over(w_all).alias("_fh"),
    )
    burst = (
        F.col("n_events") * F.lit(factor_den) * F.lit(baseline_hours)
        > F.lit(factor_num) * F.col("trailing_sum")
    )
    return scored.filter(
        F.col("hour_num") >= F.col("_fh") + baseline_hours
    ).select(
        "actor",
        "hour_num",
        "n_events",
        "trailing_sum",
        burst.cast("int").alias("is_burst"),
    )
