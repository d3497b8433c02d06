"""Relational breadth (SURVEY.md §7 phase 3; §2.3/§2.4/§2.6 "exposed
because the oracle corpus exercises them").

The reference itself has no filters/aggregates/sorts beyond its two
topologies — these operators come free from Spark and are declared so
the engine covers everything a relational user runs: filter/project,
the full join menu (inner/left/semi/anti/broadcast), aggregation
(incl. distinct, rollup, cube), sort/limit top-k, set ops, scalar
string/date/math/JSON functions, analytic windows, sessionization.

Determinism rules from .registry apply throughout (decimal-exact
float aggregation, unique tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .catalog import load_table
from .operators.asof_join import interval_left_join
from .operators.cache import build_memo
from .registry import davg, davg_sql, dsum, dsum_sql, query


# --- q10: filter + projection (pushdown-visible scan shape) ---------------
# Retired from the registry in round 4 (slot freed for
# q63_corpus_funnel): bare filter+project is a sub-plan of nearly every
# other driver row (every scan-side predicate in q11/q12/q14/q16/...
# value-checks the same surface), and its distinguishing claim —
# predicates + pruned ReadSchema reaching the parquet scan — is a PLAN
# property, pinned by tests/test_relational.py::
# test_q10_pushdown_reaches_scan against this (unregistered) builder.


def q10_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + column pruning: predicates and the 4-column ReadSchema
    must reach the parquet scan (asserted in tests via PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01").cast("timestamp"))
        & (F.col("l_discount") > 0.05)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")


# --- q11: TPC-H Q1-style pricing summary + incremental maintenance --------

_PRICING_AGG_SQL = f"""
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           {dsum_sql('l_extendedprice', 2)} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {dsum_sql('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 6)} AS sum_charge,
           {davg_sql('l_quantity', 2)} AS avg_qty,
           {davg_sql('l_extendedprice', 2)} AS avg_price,
           {davg_sql('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
"""


@query(
    "q11_pricing_summary",
    branches=("full", "mv"),
    oracle=f"""
    SELECT 'full' AS mode, l_returnflag, l_linestatus, {_PRICING_AGG_SQL}
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'mv' AS mode, l_returnflag, l_linestatus, {_PRICING_AGG_SQL}
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q11_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide hash aggregation with partial (map-side) combine — the agg
    every scan-heavy 100 TB report reduces to — in both regimes:
    ``full`` = the one-shot GROUP BY; ``mv`` = the same summary
    MAINTAINED incrementally (operators/rollup.py): build partial
    state from the historical split (l_orderkey % 20 != 0), fold the
    delta split in with ``rollup_apply_delta``, finalize. Both oracle
    arms are the plain full-scan aggregate — the mv row hash-matching
    it IS the incremental-view-maintenance correctness claim (scaled
    long partials are associative, so merge order cannot change the
    finalized bits). At 100 TB the mv path aggregates only the day's
    delta plus a |groups|-row state merge; the full path re-scans
    history."""
    from .operators.rollup import (
        rollup_apply_delta,
        rollup_build,
        rollup_finalize,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    full = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg(F.col("l_quantity"), 2).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(F.lit("full").alias("mode"), "*")
    )

    keys = ["l_returnflag", "l_linestatus"]
    sums = {
        "sum_qty": (F.col("l_quantity"), 2),
        "sum_base_price": (F.col("l_extendedprice"), 2),
        "sum_disc_price": (disc_price, 4),
        "sum_charge": (charge, 6),
        "avg_disc_sum": (F.col("l_discount"), 2),
    }
    state = rollup_build(li.filter(F.col("l_orderkey") % 20 != 0), keys, sums)
    merged = rollup_apply_delta(
        state, li.filter(F.col("l_orderkey") % 20 == 0), keys, sums
    )
    mv = rollup_finalize(
        merged,
        sums={
            "sum_qty": 2,
            "sum_base_price": 2,
            "sum_disc_price": 4,
            "sum_charge": 6,
        },
        avgs={
            "avg_qty": ("sum_qty", 2),
            "avg_price": ("sum_base_price", 2),
            "avg_disc": ("avg_disc_sum", 2),
        },
        count_alias="count_order",
    ).select(
        F.lit("mv").alias("mode"),
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        "avg_qty",
        "avg_price",
        "avg_disc",
        "count_order",
    )
    return full.unionByName(mv)


# --- q12: multi-way inner join + left-count (merged q12/q13, round 4) -----
# One driver row covers both join families — the registry must fit the
# driver's 50-query window (VERDICT r3 item 1; freed slot →
# q61_domain_mixing). A tag column keeps the branches distinguishable
# under one schema (the q14/q18 merge pattern): 'multiway' is the
# orders⋈customer⋈nation⋈region broadcast-dim chain, 'left_count' is
# the left outer join preserving zero-order customers with a
# conditional COUNT that skips NULLs. Plan shape per branch is
# unchanged (broadcast dims, single shuffle per fact join) — pytest
# plan-asserts the multiway branch's exchange count.

@query(
    "q12_join_multiway",
    oracle=f"""
    SELECT 'multiway' AS tag, n_name AS g1, r_name AS g2,
           {dsum_sql('o_totalprice', 2)} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY n_name, r_name
    UNION ALL
    SELECT 'left_count' AS tag, c_name AS g1,
           CAST(c_custkey AS VARCHAR) AS g2,
           CAST(NULL AS DOUBLE) AS revenue,
           COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c_custkey, c_name
    """,
)
def q12_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer⋈nation⋈region (Catalyst broadcast-joins the dim
    tables: nation/region always; customer under the 64 MB threshold at
    test SF — at 100 TB it shuffles while dims stay broadcast) UNION'd
    with the left-outer zero-preserving customer order count."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    fixed = orders.filter(F.col("o_orderstatus") == "F")
    multiway = (
        fixed.join(customer, fixed.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.lit("multiway").alias("tag"),
            F.col("n_name").alias("g1"),
            F.col("r_name").alias("g2"),
            "revenue",
            "n_orders",
        )
    )
    left_count = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .select(
            F.lit("left_count").alias("tag"),
            F.col("c_name").alias("g1"),
            F.col("c_custkey").cast("string").alias("g2"),
            F.lit(None).cast("double").alias("revenue"),
            "n_orders",
        )
    )
    return multiway.unionAll(left_count)


# --- q14: semi + anti joins (merged q14/q15, round 3) ---------------------
# One driver row covers both join flavors — the registry must fit the
# driver's 50-query window (VERDICT r2 item 2). A tag column keeps the
# two branches distinguishable under one schema; both still plan as
# LeftSemi / LeftAnti hash joins (pytest plan-asserts this).

@query(
    "q14_join_semi_anti",
    oracle="""
    SELECT 'semi' AS tag, c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    UNION ALL
    SELECT 'anti' AS tag, c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q14_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100000)
    semi = customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select(F.lit("semi").alias("tag"), "c_custkey", "c_name", "c_acctbal")
    anti = customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.lit("anti").alias("tag"), "c_custkey", "c_name", "c_acctbal")
    return semi.unionAll(anti)


# --- q16: fact ⋈ broadcast dims with per-part agg -------------------------

@query(
    "q16_join_broadcast_parts",
    oracle=f"""
    SELECT p_brand, p_type,
           {dsum_sql('l_quantity', 2)} AS total_qty,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 20
    GROUP BY p_brand, p_type
    """,
)
def q16_join_broadcast_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the dim side: the 100 TB-fact join
    must never shuffle lineitem for a part-sized table."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("total_qty"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


# --- q17: top-k (sort + limit) --------------------------------------------

@query(
    "q17_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def q17_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, no full sort (the only sane top-k at scale)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(25)
    )


# --- q18: set operations, set AND bag semantics (merged q18/q38, r3) ------
# One driver row covers all four forms — the registry must fit the
# driver's 50-query window (VERDICT r2 item 2). INTERSECT/EXCEPT plan
# as distinct + left-semi/left-anti; INTERSECT ALL/EXCEPT ALL plan as
# count-based hash aggregations with min(m,n)/max(m-n,0)
# multiplicities — no row-pair matching at any scale. Bag branches are
# re-aggregated per key so the output hash is order-insensitive.

@query(
    "q18_set_ops",
    oracle="""
    WITH big_spenders AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    ), urgent AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ), big_all AS (
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    ), open_all AS (
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT 'both' AS tag, custkey, CAST(1 AS BIGINT) AS n
    FROM (SELECT custkey FROM big_spenders INTERSECT SELECT custkey FROM urgent)
    UNION ALL
    SELECT 'only_big' AS tag, custkey, CAST(1 AS BIGINT) AS n
    FROM (SELECT custkey FROM big_spenders EXCEPT SELECT custkey FROM urgent)
    UNION ALL
    SELECT 'both_all' AS tag, custkey, COUNT(*) AS n FROM (
      SELECT custkey FROM big_all INTERSECT ALL SELECT custkey FROM open_all
    ) GROUP BY custkey
    UNION ALL
    SELECT 'only_big_all' AS tag, custkey, COUNT(*) AS n FROM (
      SELECT custkey FROM big_all EXCEPT ALL SELECT custkey FROM open_all
    ) GROUP BY custkey
    """,
)
def q18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    big = (
        orders.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    big_all = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    open_all = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    one = F.lit(1).cast("long").alias("n")
    both = big.intersect(urgent).select(F.lit("both").alias("tag"), "custkey", one)
    only_big = big.exceptAll(urgent).select(
        F.lit("only_big").alias("tag"), "custkey", one
    )
    both_all = (
        big_all.intersectAll(open_all)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("both_all").alias("tag"), "custkey", "n")
    )
    only_big_all = (
        big_all.exceptAll(open_all)
        .groupBy("custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("only_big_all").alias("tag"), "custkey", "n")
    )
    return both.unionAll(only_big).unionAll(both_all).unionAll(only_big_all)


# --- q19: analytic window (rank per group) --------------------------------

@query(
    "q19_window_topn_per_user",
    branches=("window", "topk"),
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    SELECT 'window' AS mode, user_id, event_id, event_type, value, rn
    FROM ranked WHERE rn <= 3
    UNION ALL
    SELECT 'topk', user_id, event_id, event_type, value, rn
    FROM ranked WHERE rn <= 3
    """,
)
def q19_window_topn_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events per user, both physical strategies in one row.
    ``window``: the declarative row_number plan — the SERVING plan:
    Spark ≥ 3.5's native WindowGroupLimit (SPARK-37099) prunes each
    map partition to k rows per group BEFORE the exchange, so the
    shuffle carries only survivors (measured: 4,500 of 100k rows at
    sf0.1, bench plan_compare.topk_vs_window). ``topk``:
    operators/topk.py's explicit Arrow two-phase combiner — the same
    shape hand-rolled, kept as the plan-pattern-independent form (and
    the measured proof the declarative plan subsumes it). Both oracle
    arms are the plain window rank — the topk row hash-matching it IS
    the claim that the prune never drops a global top-k row."""
    from .operators.topk import topk_per_group

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    window = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("window").alias("mode"),
            "user_id", "event_id", "event_type", "value", "rn",
        )
    )
    topk = topk_per_group(
        events.select("user_id", "event_id", "event_type", "value"),
        group_cols=["user_id"],
        order_cols=[("value", True), ("event_id", False)],
        k=3,
    ).select(
        F.lit("topk").alias("mode"),
        "user_id", "event_id", "event_type", "value", "rn",
    )
    return window.unionByName(topk)


# --- q20: lag + sessionization (batch analog of session windows) ----------

_SESSION_GAP_US = 30 * 60 * 1_000_000

@query(
    "q20_sessionize",
    branches=("sess", "trans", "funnel"),
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {_SESSION_GAP_US}
                     THEN 1 ELSE 0 END AS new_session
      FROM seq
    ), sessions AS (
      SELECT user_id, event_id, event_type, ts_us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    -- trans branch: the within-session Markov transition model — for
    -- each ordered event pair inside a session, count(type -> next)
    -- and the conditional probability (ONE division of exact counts)
    str0 AS (
      SELECT event_type AS et,
             lead(event_type) OVER (PARTITION BY user_id, session_id
                                    ORDER BY ts_us, event_id) AS nt
      FROM sessions
    ),
    tcnt AS (
      SELECT et, nt, count(*) AS c FROM str0
      WHERE nt IS NOT NULL GROUP BY et, nt
    ),
    ttot AS (SELECT et, SUM(c) AS tot FROM tcnt GROUP BY et),
    -- funnel branch: strict-sequence conversion view -> click ->
    -- purchase per user (each step's first instant strictly after the
    -- previous step's)
    f1 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
           WHERE event_type = 'view' GROUP BY user_id),
    f2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
           FROM events e JOIN f1 ON f1.user_id = e.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t
           GROUP BY e.user_id),
    f3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
           FROM events e JOIN f2 ON f2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t
           GROUP BY e.user_id),
    fcnt AS (
      SELECT 1 AS step, 'view' AS stype, count(*) AS n FROM f1
      UNION ALL
      SELECT 2, 'click', count(*) FROM f2
      UNION ALL
      SELECT 3, 'purchase', count(*) FROM f3
    )
    SELECT 'sess' AS mode, user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS VARCHAR) AS next_type,
           CAST(NULL AS DOUBLE) AS prob
    FROM sessions GROUP BY user_id, session_id
    UNION ALL
    SELECT 'trans', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           c.c, CAST(NULL AS BIGINT), c.et, c.nt,
           CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE)
    FROM tcnt c JOIN ttot t ON t.et = c.et
    UNION ALL
    SELECT 'funnel', CAST(NULL AS BIGINT), CAST(step AS BIGINT),
           n, CAST(NULL AS BIGINT), stype, CAST(NULL AS VARCHAR),
           CAST(n AS DOUBLE)
             / (SELECT CAST(n AS DOUBLE) FROM fcnt WHERE step = 1)
    FROM fcnt
    """,
)
def q20_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sess``: lag + gap>30min cumsum sessionization (SNIPPETS/guide
    pattern; the batch analog of streaming session_window). ``trans``
    (round 11): the within-session Markov transition model — the
    next-event analytics a clickstream deployment derives from its
    sessionized stream: per (event_type -> next_event_type), the count
    and the conditional probability (one IEEE division of exact
    counts; the lead window rides the SAME (user, ts) sort the
    sessionization already paid). ``funnel`` (round 11): the
    strict-sequence conversion funnel view -> click -> purchase —
    each step is the user's first qualifying instant strictly after
    the previous step's; per-step reached-user counts plus the
    conversion rate vs step 1. Each step is one aggregation joined
    against the previous step's (user, t) frame — user-sized, never
    event-row-sized, so the chain scales as three hash joins."""
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = W.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    null_t = (
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("string").alias("next_type"),
        F.lit(None).cast("double").alias("prob"),
    )
    sessions = (
        events.select(
            "user_id", "event_id", "event_type",
            F.unix_micros("ts").alias("ts_us"), "ts",
        )
        .withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_us").isNull()
                | ((F.col("ts_us") - F.col("prev_us")) > _SESSION_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(wcum))
    )
    sess = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        )
        .select(
            F.lit("sess").alias("mode"),
            "user_id", "session_id", "n_events", "duration_us", *null_t,
        )
    )
    wlead = W.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    tcnt = (
        sessions.select(
            F.col("event_type").alias("et"),
            F.lead("event_type").over(wlead).alias("nt"),
        )
        .filter(F.col("nt").isNotNull())
        .groupBy("et", "nt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ttot = tcnt.groupBy("et").agg(F.sum("c").alias("tot"))
    trans = tcnt.join(ttot, "et").select(
        F.lit("trans").alias("mode"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("session_id"),
        F.col("c").alias("n_events"),
        F.lit(None).cast("long").alias("duration_us"),
        F.col("et").alias("event_type"),
        F.col("nt").alias("next_type"),
        (F.col("c").cast("double") / F.col("tot").cast("double")).alias(
            "prob"
        ),
    )
    ts_us = F.unix_micros("ts")
    step = events.filter(F.col("event_type") == "view").groupBy(
        "user_id"
    ).agg(F.min(ts_us).alias("t"))
    steps = [("view", step)]
    for stype in ("click", "purchase"):
        prev = steps[-1][1]
        step = (
            events.filter(F.col("event_type") == stype)
            .select("user_id", ts_us.alias("__ts"))
            .join(prev, "user_id")
            .filter(F.col("__ts") > F.col("t"))
            .groupBy("user_id")
            .agg(F.min("__ts").alias("t"))
        )
        steps.append((stype, step))
    fcnt = None
    for i, (stype, sdf) in enumerate(steps, start=1):
        row = sdf.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(i).cast("long").alias("step"),
            F.lit(stype).alias("stype"),
            F.col("n"),
        )
        fcnt = row if fcnt is None else fcnt.unionByName(row)
    base = steps[0][1].agg(F.count(F.lit(1)).alias("n1"))
    funnel = fcnt.crossJoin(F.broadcast(base)).select(
        F.lit("funnel").alias("mode"),
        F.lit(None).cast("long").alias("user_id"),
        F.col("step").alias("session_id"),
        F.col("n").alias("n_events"),
        F.lit(None).cast("long").alias("duration_us"),
        F.col("stype").alias("event_type"),
        F.lit(None).cast("string").alias("next_type"),
        (F.col("n").cast("double") / F.col("n1").cast("double")).alias(
            "prob"
        ),
    )
    return sess.unionByName(trans).unionByName(funnel)


# --- q21: scalar string/date/math functions -------------------------------

@query(
    "q21_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_u,
           substr(o_orderpriority, 1, 1) AS prio_code,
           concat(o_orderstatus, '/', o_orderpriority) AS status_prio,
           length(o_orderpriority) AS prio_len,
           date_trunc('month', o_orderdate) AS order_month,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(dayofweek(o_orderdate) AS INT) + 1 AS dow_sun1,
           CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_bucket,
           abs(o_totalprice - 100000.0) AS dist_from_100k
    FROM orders WHERE o_orderkey % 3 = 0
    """,
)
def q21_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface (SURVEY.md §2.6). DuckDB's
    dayofweek is 0=Sunday; Spark's is 1=Sunday — oracle adds 1."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").alias("prio_len"),
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.dayofweek("o_orderdate").alias("dow_sun1"),
        F.floor(F.col("o_totalprice") / 1000).alias("price_bucket"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("dist_from_100k"),
    )


# --- q22: JSON prop extraction (events.props) -----------------------------

@query(
    "q22_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10
    GROUP BY event_type
    """,
)
def q22_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the JSON payload column — mandatory surface
    per SURVEY.md §2.6 (events.props is JSON text)."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .filter(F.col("k") >= 10)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


# --- q23: rollup & cube & distinct agg (merged q23/q24 r3, +q25 r4) -------
# One driver row covers all three aggregation lattices — the registry
# must fit the driver's 50-query window (VERDICT r3 item 1; freed slot
# → q62_pii_scrub). The cube branch keeps q24's derived grouping column
# (year(ts) over events) so both the hierarchical (rollup) and full
# (cube, incl. the (NULL, y) sets rollup lacks) Expand shapes stay
# oracle-checked; the 'distinct' branch keeps q25's COUNT(DISTINCT)
# two-phase plan (partial distinct per partition → exchange on
# (group, distinct key) → final — never a driver-side set). Spark plans
# the rollup/cube branches as ONE scan + Expand feeding every grouping
# set — the shape that replaces 2^k separate scans of a 100 TB fact.

@query(
    "q23_rollup_cube",
    oracle=f"""
    SELECT 'rollup' AS lattice, g1, g2, n, sum_qty,
           CAST(NULL AS BIGINT) AS n_distinct
    FROM (
      SELECT l_returnflag AS g1, l_linestatus AS g2,
             COUNT(*) AS n, {dsum_sql('l_quantity', 2)} AS sum_qty
      FROM lineitem GROUP BY ROLLUP (g1, g2)
    )
    UNION ALL
    SELECT 'cube' AS lattice, g1, g2, n, CAST(NULL AS DOUBLE) AS sum_qty,
           CAST(NULL AS BIGINT) AS n_distinct
    FROM (
      SELECT event_type AS g1, CAST(CAST(year(ts) AS INT) AS VARCHAR) AS g2,
             COUNT(*) AS n
      FROM events GROUP BY CUBE (g1, g2)
    )
    UNION ALL
    SELECT 'distinct' AS lattice, o_orderpriority AS g1,
           CAST(NULL AS VARCHAR) AS g2,
           COUNT(*) AS n, CAST(NULL AS DOUBLE) AS sum_qty,
           COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders GROUP BY o_orderpriority
    """,
)
def q23_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    null_n_distinct = F.lit(None).cast("long").alias("n_distinct")
    rollup = (
        li.withColumnRenamed("l_returnflag", "g1")
        .withColumnRenamed("l_linestatus", "g2")
        .rollup("g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.lit("rollup").alias("lattice"), "g1", "g2", "n", "sum_qty",
            null_n_distinct,
        )
    )
    events = load_table(spark, sf_dir, "events")
    cube = (
        events.select(
            F.col("event_type").alias("g1"),
            F.year("ts").cast("int").cast("string").alias("g2"),
        )
        .cube("g1", "g2")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("cube").alias("lattice"),
            "g1",
            "g2",
            "n",
            F.lit(None).cast("double").alias("sum_qty"),
            null_n_distinct,
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    distinct = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_custkey").alias("n_distinct"),
        )
        .select(
            F.lit("distinct").alias("lattice"),
            F.col("o_orderpriority").alias("g1"),
            F.lit(None).cast("string").alias("g2"),
            "n",
            F.lit(None).cast("double").alias("sum_qty"),
            "n_distinct",
        )
    )
    return rollup.unionAll(cube).unionAll(distinct)


# --- q26: temporal joins — J1 interval join + SCD2 point-in-time ----------

_J1_WINDOW_S = 3600  # ±1 h proximity on the sparse testdata stream

# SCD2 branches (round 9): 'signup' events are the profile CHANGE LOG
# (tier derived from `value` by exact double-literal comparisons), the
# standard lag-compaction drops no-change updates, lead() cuts validity
# intervals, and 'purchase' facts join the version current at purchase
# time. Tier thresholds are literals so both engines compare the same
# binary64 values.
_SCD_TIER_SQL = (
    "CASE WHEN value < 50 THEN 'bronze' "
    "WHEN value < 150 THEN 'silver' ELSE 'gold' END"
)


def _q26_sql() -> str:
    nulls_pairs = (
        "CAST(NULL AS BIGINT) AS n_versions,"
        " CAST(NULL AS BIGINT) AS n_current,"
        " CAST(NULL AS BIGINT) AS dur_us_closed,"
        " CAST(NULL AS BIGINT) AS n_facts,"
        " CAST(NULL AS BIGINT) AS n_users,"
        " CAST(NULL AS DOUBLE) AS sum_value"
    )
    return f"""
    WITH pairs AS (
      SELECT ev.event_type, COUNT(*) AS n_pairs,
             COUNT(DISTINCT ev.event_id) AS n_events_matched
      FROM (SELECT * FROM events WHERE event_type <> 'view') ev
      JOIN (SELECT * FROM events WHERE event_type = 'view') pv
        ON ev.user_id = pv.user_id
       AND pv.ts >= ev.ts - INTERVAL {_J1_WINDOW_S} SECOND
       AND pv.ts <= ev.ts + INTERVAL {_J1_WINDOW_S} SECOND
      GROUP BY ev.event_type
    ),
    upd AS (
      SELECT user_id, ts, event_id, {_SCD_TIER_SQL} AS tier
      FROM events WHERE event_type = 'signup'
    ),
    changed AS (
      SELECT user_id, ts, event_id, tier FROM (
        SELECT *, lag(tier) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
        FROM upd
      ) WHERE prev_tier IS NULL OR prev_tier <> tier
    ),
    dim AS (
      SELECT user_id, tier, ts AS valid_from,
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changed
    ),
    dimstats AS (
      SELECT tier, COUNT(*) AS n_versions,
             SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_current,
             SUM(CASE WHEN valid_to IS NULL THEN 0
                      ELSE epoch_us(valid_to) - epoch_us(valid_from)
                 END) AS dur_us_closed
      FROM dim GROUP BY tier
    ),
    -- delta branch: the Spark side builds the dimension from the
    -- FIRST 20 days, then folds the remaining updates in via
    -- scd2_apply_delta; under the append-only contract that equals
    -- the full-log build BITWISE, so this census over the full-log
    -- dim IS the oracle for the delta-maintenance path
    deltastats AS (
      SELECT tier, COUNT(*) AS n_versions,
             SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_current,
             SUM(CASE WHEN valid_to IS NULL THEN 0
                      ELSE epoch_us(valid_to) - epoch_us(valid_from)
                 END) AS dur_us_closed
      FROM dim GROUP BY tier
    ),
    -- asof branch: the time-travel snapshot (scd2_as_of) — the version
    -- of every key current AT the literal timestamp, half-open
    -- boundary rule; intervals partition the timeline per key, so
    -- count(*) == one row per present key
    asofstats AS (
      SELECT tier, COUNT(*) AS n_versions,
             COUNT(DISTINCT user_id) AS n_users
      FROM dim
      WHERE valid_from <= TIMESTAMP '2024-01-15'
        AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15')
      GROUP BY tier
    ),
    -- chlog branch: the snapshot-bridge path — most sources deliver
    -- snapshots, not changelogs. Derive the day-2 change batch by
    -- diffing the day-1 dimension's CURRENT rows against the full
    -- log's CURRENT rows (changelog_from_snapshots), stamp it at the
    -- literal T2, fold into the day-1 dimension (scd2_apply_delta).
    -- The re-derivation here is the apply's closed form: touched
    -- keys' open rows close at T2 and gain one new current version;
    -- new keys gain their first
    dim1 AS (
      SELECT user_id, tier, ts AS valid_from,
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM (
        SELECT user_id, ts, event_id, tier FROM (
          SELECT *, lag(tier) OVER (
            PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
          FROM upd WHERE ts < TIMESTAMP '2024-01-21'
        ) WHERE prev_tier IS NULL OR prev_tier <> tier
      )
    ),
    snapa AS (SELECT user_id, tier FROM dim1 WHERE valid_to IS NULL),
    snapb AS (SELECT user_id, tier FROM dim WHERE valid_to IS NULL),
    chg AS (
      SELECT b.user_id, b.tier FROM snapb b
      LEFT JOIN snapa a ON a.user_id = b.user_id
      WHERE a.user_id IS NULL OR a.tier <> b.tier
    ),
    dimc AS (
      SELECT d.user_id, d.tier, d.valid_from,
             CASE WHEN d.valid_to IS NULL AND c.user_id IS NOT NULL
                  THEN TIMESTAMP '2024-02-01' ELSE d.valid_to
             END AS valid_to
      FROM dim1 d LEFT JOIN chg c ON c.user_id = d.user_id
      UNION ALL
      SELECT user_id, tier, TIMESTAMP '2024-02-01',
             CAST(NULL AS TIMESTAMP)
      FROM chg
    ),
    chlogstats AS (
      SELECT tier, COUNT(*) AS n_versions,
             SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS n_current,
             SUM(CASE WHEN valid_to IS NULL THEN 0
                      ELSE epoch_us(valid_to) - epoch_us(valid_from)
                 END) AS dur_us_closed
      FROM dimc GROUP BY tier
    ),
    -- near branch: symmetric NEAREST-event pick — per DISTINCT
    -- non-view event, the view with the smallest |Δt| within ±w
    -- (ties → earlier view ts, then view event_id); stats fold the
    -- picked |Δt| micros exactly
    nleft AS (
      SELECT DISTINCT * FROM events WHERE event_type <> 'view'
    ),
    ncand AS (
      SELECT l.event_type, l.event_id, l.user_id, l.ts, l.value,
             l.props, pv.ts AS rts, pv.event_id AS rid,
             abs(epoch_us(pv.ts) - epoch_us(l.ts)) AS absus
      FROM nleft l
      JOIN (SELECT * FROM events WHERE event_type = 'view') pv
        ON pv.user_id = l.user_id
       AND pv.ts >= l.ts - INTERVAL {_J1_WINDOW_S} SECOND
       AND pv.ts <= l.ts + INTERVAL {_J1_WINDOW_S} SECOND
    ),
    npick AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY event_type, event_id, user_id, ts, value, props
          ORDER BY absus, rts, rid) AS rn
        FROM ncand
      ) WHERE rn = 1
    ),
    nearstats AS (
      SELECT event_type, COUNT(*) AS n_pairs,
             COUNT(DISTINCT event_id) AS n_events_matched,
             SUM(absus) AS dur_us_closed
      FROM npick GROUP BY event_type
    ),
    enr AS (
      SELECT f.event_id, f.user_id, f.value, d.tier
      FROM (SELECT * FROM events WHERE event_type = 'purchase') f
      LEFT JOIN dim d
        ON f.user_id = d.user_id AND f.ts >= d.valid_from
       AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    ),
    enrstats AS (
      SELECT tier, COUNT(*) AS n_facts,
             COUNT(DISTINCT user_id) AS n_users,
             {dsum_sql('value', 2)} AS sum_value
      FROM enr GROUP BY tier
    )
    SELECT 'pairs' AS mode, event_type, CAST(NULL AS VARCHAR) AS tier,
           n_pairs, n_events_matched, {nulls_pairs}
    FROM pairs
    UNION ALL
    SELECT 'dim', CAST(NULL AS VARCHAR), tier,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_versions, n_current, dur_us_closed,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM dimstats
    UNION ALL
    SELECT 'enrich', CAST(NULL AS VARCHAR), tier,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), n_facts, n_users, sum_value
    FROM enrstats
    UNION ALL
    SELECT 'delta', CAST(NULL AS VARCHAR), tier,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_versions, n_current, dur_us_closed,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM deltastats
    UNION ALL
    SELECT 'asof', CAST(NULL AS VARCHAR), tier,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_versions, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), n_users, CAST(NULL AS DOUBLE)
    FROM asofstats
    UNION ALL
    SELECT 'chlog', CAST(NULL AS VARCHAR), tier,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_versions, n_current, dur_us_closed,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM chlogstats
    UNION ALL
    SELECT 'near', event_type, CAST(NULL AS VARCHAR),
           n_pairs, n_events_matched,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           dur_us_closed,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM nearstats
    """


@query(
    "q26_interval_join_symmetric",
    branches=("pairs", "dim", "enrich", "delta", "asof", "chlog", "near"),
    oracle=_q26_sql(),
)
@build_memo
def q26_interval_join_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal joins, three branches in one driver row. ``pairs`` —
    J1: the DSL's symmetric JoinWindows.of(w) proximity join
    (ClickstreamJoinExample.scala:230-234), all matching pairs both
    directions in time, counted per event type. ``dim``/``enrich``
    (round 9) — the SCD2 twin of the reference's KTable enrichment
    (operators.scd): 'signup' events fold into type-2 validity
    intervals (lag-compacted, lead-cut — ONE exchange + sort on the
    dimension key), 'purchase' facts join the version current at their
    timestamp. At 100 TB the built dimension is versions×keys (far
    smaller than the fact corpus) and BROADCASTS, so the fact side
    never shuffles; intervals partition the timeline per key, so the
    join can't amplify rows. The census (version counts, current rows,
    closed validity micros) and the enrichment rollup (facts/users/
    exact-decimal value sum per point-in-time tier) are both
    driver-VALUE-checked against DuckDB's independent rederivation.
    ``delta``: the day-2 maintenance path (scd2_apply_delta) — build
    from the first 20 days, fold the rest in delta-proportionally
    (untouched keys anti-join through; touched keys recut from their
    retained rows + the delta); the oracle checks its census against
    the FULL-log build, which it must equal bitwise under the
    append-only contract — the maintenance operator itself is
    driver-value-checked. ``near`` (round 10): the symmetric NEAREST
    pick (asof_nearest_join) — min |Δt| within ±w, ties to the
    earlier view then its id; per-type match counts and the exact
    picked-|Δt| micro sum are value-checked against the oracle's
    rank-over-distinct-left re-derivation.

    Memoized per (session, corpus) — the q41/q54 convention: the
    seven-child union costs ~1.8 s of py4j construction per
    invocation and the bench invokes the slot eight times."""
    from .operators.scd import (
        changelog_from_snapshots,
        scd2_apply_delta,
        scd2_as_of,
        scd2_dim_stats,
        scd2_from_changelog,
        scd2_point_in_time_join,
    )

    events = load_table(spark, sf_dir, "events")
    ev = events.filter(F.col("event_type") != "view")
    pv = events.filter(F.col("event_type") == "view")
    # Bucketized interval join (operators/asof_join.py): the time bucket
    # rides as an extra equi-key, so a hot user whose history spans far
    # more than ±1 h compares only against window-adjacent buckets
    # instead of its full key group (the raw theta-join is quadratic per
    # key). Same pair set — each right row lives in exactly one bucket.
    joined, l, r = interval_left_join(
        ev,
        pv,
        on=["user_id"],
        lookback_seconds=_J1_WINDOW_S,
        lookahead_seconds=_J1_WINDOW_S,
        how="inner",
    )
    pairs = joined.groupBy(F.col("l.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("l.event_id").alias("n_events_matched"),
    )

    tier = (
        F.when(F.col("value") < 50, "bronze")
        .when(F.col("value") < 150, "silver")
        .otherwise("gold")
    )
    upd = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", tier.alias("tier")
    )
    dim = scd2_from_changelog(
        upd, key="user_id", ts="ts", attrs=["tier"], tie="event_id"
    )
    dimstats = scd2_dim_stats(dim, ["tier"])
    facts = events.filter(F.col("event_type") == "purchase")
    enr = scd2_point_in_time_join(
        facts,
        dim.select("user_id", "tier", "valid_from", "valid_to"),
        key="user_id",
        fact_ts="ts",
    )
    enrstats = enr.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.countDistinct("user_id").alias("n_users"),
        dsum(F.col("value"), 2).alias("sum_value"),
    )

    # delta branch: build from the first 20 days, fold the rest in via
    # the delta-proportional maintenance path — the oracle checks it
    # against the full-log build (equal BITWISE under the append-only
    # contract), making scd2_apply_delta itself driver-value-checked
    cutoff = F.lit("2024-01-21").cast("timestamp")
    dim1 = scd2_from_changelog(
        upd.filter(F.col("ts") < cutoff),
        key="user_id", ts="ts", attrs=["tier"], tie="event_id",
    )
    dim2 = scd2_apply_delta(
        dim1,
        upd.filter(F.col("ts") >= cutoff),
        key="user_id", ts="ts", attrs=["tier"], tie="event_id",
    )
    deltastats = scd2_dim_stats(dim2, ["tier"])

    # asof branch (round 10): scd2_as_of — the time-travel snapshot at
    # a literal mid-history timestamp; a pure map-side filter over the
    # dimension (no join, no shuffle beyond the census agg), so at
    # 100 TB "the table as of last Tuesday" costs one dimension scan
    asofstats = scd2_as_of(dim, "2024-01-15").groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.countDistinct("user_id").alias("n_users"),
    )

    # chlog branch (round 10): the snapshot-bridge —
    # changelog_from_snapshots diffs the day-1 dimension's current
    # rows against the target current state (both dimension-sized,
    # reduced to (key, attrs) before the join, the unchanged majority
    # drops), and the delta-sized batch folds in via scd2_apply_delta;
    # the oracle value-checks the resulting census against its own
    # closed-form re-derivation
    chg = changelog_from_snapshots(
        dim1.filter(F.col("is_current")).select("user_id", "tier"),
        dim.filter(F.col("is_current")).select("user_id", "tier"),
        key="user_id", attrs=["tier"], ts="2024-02-01",
    ).withColumnRenamed("tie", "event_id")
    dimc = scd2_apply_delta(
        dim1, chg, key="user_id", ts="ts", attrs=["tier"],
        tie="event_id",
    )
    chlogstats = scd2_dim_stats(dimc, ["tier"])

    # near branch (round 10): the symmetric NEAREST pick — the third
    # member of the as-of family (latest-≤t / earliest-≥t−w / min
    # |Δt| within ±w). Same bucketized equi-join shape; the pick is a
    # min_by over (|Δt| µs, right ts, right id) — a hash agg, never a
    # sort. Stats fold the picked |Δt| micros exactly.
    from .operators.asof_join import asof_nearest_join

    pv2 = pv.select(
        "user_id", "ts",
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    near = asof_nearest_join(
        ev.distinct(), pv2, on=["user_id"],
        right_payload=["r_ts", "r_event_id"],
        window_seconds=_J1_WINDOW_S,
        right_order=["r_event_id"],
    )
    nearstats = (
        near.filter(F.col("r_ts").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("event_id").alias("n_events_matched"),
            F.sum(
                F.abs(F.unix_micros("r_ts") - F.unix_micros("ts"))
            ).alias("dur_us_closed"),
        )
    )

    out_cols = [
        ("mode", "string"),
        ("event_type", "string"),
        ("tier", "string"),
        ("n_pairs", "long"),
        ("n_events_matched", "long"),
        ("n_versions", "long"),
        ("n_current", "long"),
        ("dur_us_closed", "long"),
        ("n_facts", "long"),
        ("n_users", "long"),
        ("sum_value", "double"),
    ]

    def shape(df: DataFrame, mode: str) -> DataFrame:
        # ONE selectExpr per union child (the q58 pad convention):
        # the lit/cast/alias Column chain cost ~1,500 py4j round
        # trips over 7 shapes x 11 columns; the SQL strings parse to
        # the identical plan and cross the gateway once.
        have = set(df.columns)
        return df.selectExpr(
            *[
                f"'{mode}' AS mode"
                if c == "mode"
                else (c if c in have else f"CAST(NULL AS {t}) AS {c}")
                for c, t in out_cols
            ]
        )

    return (
        shape(pairs, "pairs")
        .unionByName(shape(dimstats, "dim"))
        .unionByName(shape(enrstats, "enrich"))
        .unionByName(shape(deltastats, "delta"))
        .unionByName(shape(asofstats, "asof"))
        .unionByName(shape(chlogstats, "chlog"))
        .unionByName(shape(nearstats, "near"))
    )
