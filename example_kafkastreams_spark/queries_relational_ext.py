"""Relational breadth, second wave (SURVEY.md §2.4/§2.6 "exposed
because the oracle corpus exercises them" — continued).

Adds the remaining relational surface a user of a general engine
expects: explicit grouping sets, full outer join, correlated
EXISTS/NOT EXISTS subqueries (through the SQL entry point, exercising
Catalyst's subquery decorrelation), pivot, exact percentiles,
cumulative window frames, array unnest, deterministic hash sampling,
and conditional/boolean aggregates.

Determinism rules from .registry apply: decimal-exact float
aggregation (dsum/davg), unique tie-breaks in every ordering, and
percentiles rounded to 6 decimals so linear-interpolation ulp noise
cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from .catalog import load_table
from .registry import davg_sql, dsum, dsum_sql, query


# --- q27: explicit GROUPING SETS ------------------------------------------

@query(
    "q27_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity', 2)} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q27_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-chosen aggregation lattice (between rollup q23 and cube
    q24): one shuffle, Expand feeds all three grouping sets — the
    shape that replaces three separate scans of a 100 TB fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- q28: full outer join -------------------------------------------------

@query(
    "q28_join_full_outer",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_name FROM customer WHERE c_nationkey < 13
    ), ords AS (
      SELECT o_custkey, COUNT(*) AS n_open
      FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, o_custkey, n_open
    FROM cust FULL OUTER JOIN ords ON c_custkey = o_custkey
    """,
)
def q28_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with genuinely unmatched rows on BOTH sides
    (customers without open orders; open orders whose customer falls
    outside the nation filter). Full outer cannot broadcast — Spark
    plans a shuffle join on the key, the correct shape at any scale."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 13)
        .select("c_custkey", "c_name")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    return cust.join(
        ords, cust.c_custkey == ords.o_custkey, "full_outer"
    ).select("c_custkey", "c_name", "o_custkey", "n_open")


# --- q29: correlated EXISTS / NOT EXISTS through the SQL surface ----------

_Q29_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
          )
"""


@query("q29_exists_subquery", oracle=_Q29_SQL)
def q29_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS, deliberately submitted as SQL
    text: Catalyst decorrelates the subqueries into a left-semi and a
    left-anti hash join (the same physical shape q14/q15 declare
    through the DataFrame API) — one statement, two join flavors,
    zero driver-side logic."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q29_SQL)


# --- q30: pivot -----------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q30_pivot_event_types",
    branches=("pivot", "cohort"),
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    coh AS (
      SELECT user_id, min(day) AS cohort_day FROM ud GROUP BY user_id
    ),
    cs AS (
      SELECT cohort_day, count(*) AS size FROM coh GROUP BY cohort_day
    ),
    mat AS (
      SELECT c.cohort_day, u.day - c.cohort_day AS day_offset,
             count(*) AS n_active
      FROM ud u JOIN coh c ON c.user_id = u.user_id
      GROUP BY c.cohort_day, u.day - c.cohort_day
    )
    SELECT 'pivot' AS mode, user_id,
           {', '.join(
               f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}"
               for t in _EVENT_TYPES
           )},
           CAST(NULL AS DOUBLE) AS retention
    FROM events
    GROUP BY user_id
    UNION ALL
    SELECT 'cohort', m.cohort_day, m.day_offset, m.n_active, s.size,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(m.n_active AS DOUBLE) / CAST(s.size AS DOUBLE)
    FROM mat m JOIN cs s ON s.cohort_day = m.cohort_day
    """,
)
def q30_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pivot``: long→wide pivot with an EXPLICIT value list (never
    inferred: at 100 TB value inference is an extra full pass; with
    the list given, the pivot is a single hash aggregation of |users|
    x 5 counters). ``cohort`` (round 11): day-grain retention cohorts
    — each user's cohort is their first active day (integer epoch-day
    division, exact in both engines); the matrix counts distinct
    users active at each (cohort_day, day_offset) with the retention
    rate vs cohort size (one IEEE division of exact counts). The
    (user, day) dedup is the only corpus-sized aggregation; the
    matrix itself is bounded by days², not rows. Columns shoehorn
    positionally into the pivot schema (user_id=cohort_day, then
    day_offset / n_active / cohort_size into the first three
    n_{{type}} columns of the _EVENT_TYPES order)."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) pair never occurred;
    # COUNT(*) FILTER yields 0 — align on 0 and match oracle names
    pivot = piv.select(
        F.lit("pivot").alias("mode"),
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
        F.lit(None).cast("double").alias("retention"),
    )
    ud = ev.select(
        "user_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
    ).distinct()
    coh = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cs = coh.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("size"))
    mat = (
        ud.join(coh, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    cohort = mat.join(F.broadcast(cs), "cohort_day").select(
        F.lit("cohort").alias("mode"),
        F.col("cohort_day").alias("user_id"),
        F.col("day_offset").alias(f"n_{_EVENT_TYPES[0]}"),
        F.col("n_active").alias(f"n_{_EVENT_TYPES[1]}"),
        F.col("size").alias(f"n_{_EVENT_TYPES[2]}"),
        F.lit(None).cast("long").alias(f"n_{_EVENT_TYPES[3]}"),
        F.lit(None).cast("long").alias(f"n_{_EVENT_TYPES[4]}"),
        (
            F.col("n_active").cast("double") / F.col("size").cast("double")
        ).alias("retention"),
    )
    return pivot.unionByName(cohort)


# --- q31: exact percentiles / median --------------------------------------

@query(
    "q31_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25) AS DOUBLE), 6) AS p25,
           round(CAST(median(CAST(o_totalprice AS DOUBLE)) AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75) AS DOUBLE), 6) AS p75,
           COUNT(*) AS n_rows
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q31_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), rounded to 6 dp so interpolation ulp
    noise can't flip the hash. Exact percentile buffers each group's
    values — declared over orders (bounded groups); for a 100 TB fact
    table the scale path is ``approx_percentile`` (t-digest, not
    oracle-checkable across engines bit-for-bit)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- q32: cumulative window frame -----------------------------------------

@query(
    "q32_window_cumulative",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w
                AS DOUBLE) / 100.0 AS running_spend,
           COUNT(*) OVER w AS running_orders
    FROM orders
    WHERE o_custkey < 150
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q32_window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running totals with an explicit ROWS frame and a
    unique (date, orderkey) ordering. The cumulative sum uses the
    scaled-long trick (registry.dsum) inside the frame: exact,
    order-independent, and stays in whole-stage codegen."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scaled = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(scaled).over(w).cast("double") / 100.0).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("running_orders"),
    )


# --- q33: array unnest / per-dimension stats ------------------------------

@query(
    "q33_unnest_dim_stats",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> {{'component': CAST(embedding[i] AS DOUBLE), 'dim': i}}),
                    recursive := true)
      FROM embeddings
    )
    SELECT dim,
           {davg_sql('component', 6)} AS mean_val,
           round(CAST(min(component) AS DOUBLE), 6) AS min_val,
           round(CAST(max(component) AS DOUBLE), 6) AS max_val
    FROM comp
    GROUP BY dim
    """,
)
def q33_unnest_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode the embedding column to (vec_id, dim, component) and
    aggregate per dimension — the array⇄relation bridge (posexplode /
    unnest) every vector pipeline needs. 64 output rows regardless of
    corpus size; the explode is map-side, the shuffle carries only
    (dim, partial agg)."""
    from .registry import davg

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fcomponent")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.col("fcomponent").cast("double").alias("component"),
    )
    return comp.groupBy("dim").agg(
        davg(F.col("component"), 6).alias("mean_val"),
        F.round(F.min("component"), 6).alias("min_val"),
        F.round(F.max("component"), 6).alias("max_val"),
    )


# --- q34: deterministic hash sampling -------------------------------------

from .functions import portable as P  # noqa: E402


@query(
    "q34_hash_sample",
    branches=("hash", "strat", "wsample", "prio", "gprio"),
    disc="method",
    oracle=f"""
    SELECT 'hash' AS method, o_orderkey, o_custkey, o_totalprice,
           o_orderpriority
    FROM orders
    WHERE {P.token_hash32("CAST(o_orderkey AS VARCHAR)", P.DUCK)} % 20 = 0
    UNION ALL
    SELECT 'strat', o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 7
    UNION ALL
    -- wsample branch: importance sampling at a PER-ROW acceptance
    -- probability (price / corpus max — one IEEE division of exact
    -- parquet doubles, then the floor(w * 2^32) integer threshold)
    SELECT 'wsample', o_orderkey, o_custkey, o_totalprice,
           o_orderpriority
    FROM orders
    WHERE {P.token_hash32("CAST(o_orderkey AS VARCHAR)", P.DUCK)} <
          CAST(floor(least(greatest(
                 o_totalprice / (SELECT max(o_totalprice) FROM orders),
                 CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))
               * 4294967296.0) AS BIGINT)
    UNION ALL
    -- prio branch: priority sampling — EXACT k, weight-sensitive;
    -- priority = weight / (hash32(id) + 1), one IEEE division
    SELECT 'prio', o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders
      ORDER BY CAST(o_totalprice AS DOUBLE)
               / ({P.token_hash32("CAST(o_orderkey AS VARCHAR)", P.DUCK)}
                  + 1) DESC,
               o_orderkey
      LIMIT 40
    )
    UNION ALL
    -- gprio branch: the per-stratum quota variant — exactly 5 per
    -- o_orderpriority by the same priority, rank within the stratum
    SELECT 'gprio', o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(o_totalprice AS DOUBLE)
                 / ({P.token_hash32("CAST(o_orderkey AS VARCHAR)", P.DUCK)}
                    + 1) DESC,
                 o_orderkey
             ) AS prk
      FROM orders
    ) WHERE prk <= 5
    """,
)
def q34_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both deterministic sampling regimes in one driver row (round-5
    tag merge). ``hash``: ~5% sample by key hash — the reproducible
    subsampling a training-data pipeline uses instead of
    ``TABLESAMPLE`` (seed- and partitioning-dependent, never
    cross-engine verifiable); pure map-side filter, no shuffle.
    ``strat``: operators.sampling.stratified_sample — EXACTLY 7 orders
    per o_orderpriority stratum ranked by md5(key), the per-domain
    eval-holdout carve; the rank ≤ n predicate triggers Spark's
    WindowGroupLimit rewrite so each map partition pre-prunes to 7
    rows per stratum before the exchange (quota-bounded shuffle).
    ``wsample`` (round 9): operators.sampling.weighted_sample —
    IMPORTANCE sampling with a per-row acceptance probability (here
    price / corpus max), the quality-weighted subsampling a pipeline
    runs instead of uniform downsampling; the oracle re-derives the
    weight with the identical IEEE op sequence and the same
    floor(w·2³²) integer threshold. ``prio`` (round 10):
    operators.sampling.priority_sample — Duffield-Lund-Thorup priority
    sampling, the budget-EXACT counterpart: exactly 40 orders by
    priority = price / (hash32(key)+1), heavy rows near-certain,
    light rows weight-proportional; compiles to TakeOrderedAndProject
    (per-partition top-k, no global sort). ``gprio`` (round 10):
    operators.sampling.priority_sample_per_group — the per-stratum
    quota variant, exactly 5 per o_orderpriority by the same priority;
    the rank ≤ k predicate rides WindowGroupLimit so the stratum
    shuffle stays quota-bounded."""
    from .operators.sampling import (
        priority_sample,
        priority_sample_per_group,
        stratified_sample,
        weighted_sample,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    bucket = F.expr(P.token_hash32("CAST(o_orderkey AS STRING)", P.SPARK))
    hashed = orders.filter(bucket % 20 == 0)
    strat = stratified_sample(
        orders, "o_orderpriority", 7, "o_orderkey"
    )
    maxp = orders.agg(F.max("o_totalprice").alias("__maxp"))
    ws = weighted_sample(
        orders.crossJoin(F.broadcast(maxp)).withColumn(
            "__w", F.col("o_totalprice") / F.col("__maxp")
        ),
        "__w",
        "o_orderkey",
    )
    prio = priority_sample(orders, "o_totalprice", "o_orderkey", 40)
    gprio = priority_sample_per_group(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", 5
    )
    return (
        hashed.select(F.lit("hash").alias("method"), *cols)
        .unionByName(strat.select(F.lit("strat").alias("method"), *cols))
        .unionByName(ws.select(F.lit("wsample").alias("method"), *cols))
        .unionByName(prio.select(F.lit("prio").alias("method"), *cols))
        .unionByName(gprio.select(F.lit("gprio").alias("method"), *cols))
    )


# --- q35: conditional / boolean aggregates --------------------------------

# q38_set_ops_all (INTERSECT ALL / EXCEPT ALL) was folded into
# q18_set_ops in round 3 — one driver row now covers both the distinct
# and the bag-semantics forms, freeing a slot in the driver's 50-query
# verification window (VERDICT r2 item 2).


# --- q36: analytic window function breadth --------------------------------

@query(
    "q36_window_functions",
    oracle="""
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER w AS drank,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           ntile(4) OVER w AS quartile,
           first_value(o_orderkey) OVER w AS first_order
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q36_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank / lag / lead / ntile / first_value over one shared
    window spec — Spark evaluates all five in a single Window physical
    operator (one sort per partition, not five)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.first_value("o_orderkey").over(w).alias("first_order"),
    )


# --- q37: salted skew join (output == plain join) -------------------------

@query(
    "q37_salted_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q37_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe fact⋈dim join: the fact side salts on a hash of
    event_id, the dim side replicates 8x, and the join key becomes
    (user_id, salt) — a hot user spreads over 8 tasks instead of one.
    The oracle is the PLAIN join: salting must be output-invisible."""
    from .operators.salted import salted_equijoin

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return salted_equijoin(
        events.select("event_id", "user_id", "event_type"),
        customer.select("c_custkey", "c_name", "c_mktsegment"),
        fact_key="user_id",
        dim_key="c_custkey",
        salt_source="event_id",
        salts=8,
    ).select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")


_OPEN_REV = dsum_sql(
    "CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END", 2
)


@query(
    "q35_conditional_agg",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_or(o_totalprice > 400000) AS any_huge,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           {_OPEN_REV} AS open_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q35_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_or / bool_and / conditional sum — the
    branch-free conditional aggregation idiom (one pass, partial aggs
    map-side) that replaces per-condition sub-scans."""
    orders = load_table(spark, sf_dir, "orders")
    open_rev = F.when(
        F.col("o_orderstatus") == "O", F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        dsum(open_rev, 2).alias("open_revenue"),
    )
