"""Cardinality sketches — cross-engine-EXACT approximate distincts.

``approx_count_distinct`` (the engines' NATIVE HyperLogLog) can never
be oracle-checked: Spark's and DuckDB's HLL implementations hash
differently and round differently. Two sketches here can:

KMV (k minimum values; Bar-Yossef et al. 2002): the
sketch is "the k smallest distinct hash values", the hash is the
dual-dialect ``portable.token_hash32`` (identical BIGINTs in both
engines), and the estimator ``(k-1)·2³² / h_k`` is one exact integer
product and one IEEE division — bit-equal across engines by
construction. Relative standard error ≈ 1/√(k−2) (~13% at k=64).

HyperLogLog itself (Flajolet, Fusy, Gandouet, Meunier 2007), built
from scratch on the same portable hash, is ALSO exactly reproducible —
the trick is that every float the estimator touches is either a
compile-time literal or a sum that cannot round:

* the register update is pure integer arithmetic (bucket = h mod m,
  rho = trailing-zero run of h div m, via a generated CASE ladder —
  no ``log``/bit-builtin dialect differences);
* the harmonic-mean denominator Σ 2^(−M_j) is a sum of m powers of
  two, each a multiple of 2^(−(nbits+1)) and ≤ 1, so every partial sum
  needs ≤ p + nbits + 1 < 53 significand bits — IEEE addition is EXACT
  here, hence associative, hence aggregation-order- and partitioning-
  independent (the same trick the nDCG fold uses with literal
  discounts);
* α_m·m² is one Python-side ``repr`` literal cast identically in both
  dialects, and the estimate is a single IEEE division of two
  bit-identical doubles.

The classic small-range linear-counting correction (m·ln(m/V)) is
deliberately NOT part of the cross-engine row — ``ln`` is libm-bound.
``hll_corrected_estimate`` applies it driver-side from the returned
(est, n_zero_regs) pair: one scalar, never shipped between engines.

Scale shape (the reason to sketch at all). KMV: a local
``dense_rank() ≤ k`` per input partition prunes to the rows covering
each partition's k smallest DISTINCT hashes BEFORE any exchange
(dense_rank, not row_number — duplicates of one small hash must not
evict a larger distinct hash from the local top-k), so the global
distinct+sort touches ≤ partitions·k candidate values, never the
corpus. HLL is even tighter: bucket/rho are map-side expressions and
``max(rho)`` partial-aggregates per partition, so the exchange carries
≤ partitions·m register rows — CONSTANT in the corpus, no candidate
set at all, and registers from disjoint corpus parts merge by
register-wise max (the property the unit tests pin). Exact
distinct-count of the same column shuffles every value; the sketches
shuffle a bounded (KMV) or constant (HLL) set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions import portable as P

HASH_SPACE = float(2**32)


def _kmv_top_hashes(
    values: DataFrame, value_col: str, k: int
) -> DataFrame:
    """The k smallest DISTINCT portable hashes of ``value_col`` — the
    KMV sketch content, with the local dense_rank prune bounding the
    exchange (module docstring)."""
    h = P.token_hash32(value_col, P.SPARK)
    # NULL values hash to NULL and would sort FIRST under Spark's
    # ascending NULL ordering, inflating k_used — drop them (a NULL is
    # not a distinct value in count-distinct semantics either)
    hashed = values.select(F.expr(h).alias("__h")).filter(
        F.col("__h").isNotNull()
    )
    local = W.partitionBy(F.spark_partition_id()).orderBy("__h")
    cand = (
        hashed.withColumn("__r", F.dense_rank().over(local))
        .filter(F.col("__r") <= k)
        .select("__h")
        .distinct()
    )
    return cand.orderBy("__h").limit(k)


def kmv_distinct(
    values: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """One row: (k_used, kth_hash, est_distinct) for the distinct
    cardinality of ``value_col``.

    ``k_used`` is the number of distinct hashes found (< ``k`` means
    the sketch saw the whole domain and ``est_distinct`` is exact —
    the standard small-cardinality degenerate case).
    """
    top = _kmv_top_hashes(values, value_col, k)
    return top.agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("__h").alias("kth_hash"),
    ).select(
        "k_used",
        "kth_hash",
        F.when(
            F.col("k_used") < k, F.col("k_used").cast("double")
        )
        .otherwise(
            F.lit(float(k - 1)) * F.lit(HASH_SPACE)
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def kmv_distinct_sql(value_sql: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_distinct`` over ``value_sql`` (a CTE/table
    with one column ``v``): same hashes, same estimator, same bits."""
    h = P.token_hash32("v", P.DUCK)
    return f"""
    SELECT k_used, kth_hash,
           CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
                ELSE CAST({float(k - 1)!r} AS DOUBLE)
                     * CAST({HASH_SPACE!r} AS DOUBLE)
                     / CAST(kth_hash AS DOUBLE)
           END AS est_distinct
    FROM (
      SELECT CAST(count(*) AS INTEGER) AS k_used, max(h) AS kth_hash
      FROM (
        SELECT DISTINCT {h} AS h FROM ({value_sql}) ORDER BY h LIMIT {k}
      )
    )
    """


def kmv_set_ops(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Set-operation cardinalities from two KMV sketches (Beyer et
    al. 2007 / the theta-sketch construction): one row
    (k_used, kth_hash, n_both, est_union, jaccard_est,
    est_intersection) for the distinct sets of ``value_col`` in ``a``
    and ``b`` — the audience-overlap question ("how many users do
    these two event streams share?") answered from two
    candidate-sized sketches, never a corpus-sized join.

    The union's k smallest distinct hashes S are the k smallest of
    (A's k smallest ∪ B's k smallest), and a hash in S belongs to A
    iff it is in A's OWN k-minimum set (A ⊆ A∪B ⇒ A's kth smallest ≥
    the union's kth smallest) — so membership tests also stay
    candidate-sized. Estimators: est_union is KMV's
    ``(k−1)·2³²/h_k``; jaccard_est = n_both/k_used (the fraction of
    the union sample lying in both sides); est_intersection =
    jaccard_est · est_union. When k_used < k the union was seen
    whole and every figure is exact. All arithmetic is a handful of
    IEEE ops on identical operands — cross-engine bit-equal
    (``kmv_set_ops_sql``)."""
    ta = _kmv_top_hashes(a, value_col, k)
    tb = _kmv_top_hashes(b, value_col, k)
    s = ta.unionByName(tb).distinct().orderBy("__h").limit(k)
    both = s.join(ta, "__h", "semi").join(tb, "__h", "semi")
    stats = s.agg(
        F.count(F.lit(1)).cast("int").alias("k_used"),
        F.max("__h").alias("kth_hash"),
    ).crossJoin(
        both.agg(F.count(F.lit(1)).alias("n_both"))
    )
    est_union = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(HASH_SPACE)
        / F.col("kth_hash").cast("double")
    )
    jac = F.col("n_both").cast("double") / F.col("k_used").cast("double")
    return stats.select(
        "k_used",
        "kth_hash",
        "n_both",
        est_union.alias("est_union"),
        jac.alias("jaccard_est"),
        F.when(
            F.col("k_used") < k, F.col("n_both").cast("double")
        )
        .otherwise(jac * est_union)
        .alias("est_intersection"),
    )


def kmv_set_ops_sql(a_sql: str, b_sql: str, k: int = 64) -> str:
    """DuckDB twin of ``kmv_set_ops`` over two one-column (``v``)
    selects: same hashes, same candidate algebra, same estimator op
    sequence."""
    ha = P.token_hash32("v", P.DUCK)
    est_union = f"""CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
                ELSE CAST({float(k - 1)!r} AS DOUBLE)
                     * CAST({HASH_SPACE!r} AS DOUBLE)
                     / CAST(kth_hash AS DOUBLE) END"""
    jac = "(CAST(n_both AS DOUBLE) / CAST(k_used AS DOUBLE))"
    return f"""
    WITH ta AS (
      SELECT DISTINCT {ha} AS h FROM ({a_sql})
      WHERE v IS NOT NULL ORDER BY h LIMIT {k}
    ),
    tb AS (
      SELECT DISTINCT {ha} AS h FROM ({b_sql})
      WHERE v IS NOT NULL ORDER BY h LIMIT {k}
    ),
    s AS (
      SELECT h FROM (SELECT h FROM ta UNION SELECT h FROM tb)
      ORDER BY h LIMIT {k}
    ),
    st AS (
      SELECT CAST(count(*) AS INTEGER) AS k_used, max(h) AS kth_hash,
             (SELECT count(*) FROM s
              WHERE h IN (SELECT h FROM ta)
                AND h IN (SELECT h FROM tb)) AS n_both
      FROM s
    )
    SELECT k_used, kth_hash, n_both,
           {est_union} AS est_union,
           {jac} AS jaccard_est,
           CASE WHEN k_used < {k} THEN CAST(n_both AS DOUBLE)
                ELSE {jac} * ({est_union}) END AS est_intersection
    FROM st
    """


def count_min_counters(
    values: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch counters: (d, bucket, cnt), depth·width rows.

    Each value emits ``depth`` (row, bucket) coordinates map-side —
    bucket_d = token_hash32(d || ':' || v) % width — and ONE hash
    aggregation builds every counter (partial agg collapses the
    per-partition mass before the exchange, which carries at most
    depth·width rows per partition). Counters are EXACT integers, so
    the sketch is deterministic and cross-engine reproducible —
    unlike sampled sketches, a CM sketch's content depends only on
    the multiset, never on partitioning.
    """
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (
                        F.expr(
                            P.token_hash32(
                                f"CONCAT('{d}:', {value_col})", P.SPARK
                            )
                        )
                        % width
                    ).alias("bucket"),
                )
                for d in range(depth)
            ]
        )
    ).alias("__c")
    return (
        values.filter(F.col(value_col).isNotNull())
        .select(coords)
        .select(F.col("__c.d").alias("d"), F.col("__c.bucket").alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimates(
    values: DataFrame,
    value_col: str,
    probes: DataFrame,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """(probe value, cms_est, exact_cnt) per probe — the point-query
    side of the sketch: est = min over d of counter[d][bucket_d(v)],
    always ≥ the true count (CM's one-sided guarantee; equality when
    no collision). ``probes`` is a small one-column frame (broadcast);
    the exact count joins in for quality reporting."""
    counters = count_min_counters(values, value_col, depth, width)
    pb = probes.select(
        F.col(probes.columns[0]).alias("__pv")
    ).distinct()
    coords = pb.select(
        "__pv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.expr(
                                P.token_hash32(
                                    f"CONCAT('{d}:', __pv)", P.SPARK
                                )
                            )
                            % width
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__c"),
    ).select(
        "__pv",
        F.col("__c.d").alias("d"),
        F.col("__c.bucket").alias("bucket"),
    )
    est = (
        coords.join(counters, ["d", "bucket"], "left")
        .groupBy("__pv")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )
    exact = (
        values.join(F.broadcast(pb), F.col(value_col) == F.col("__pv"))
        .groupBy("__pv")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return est.join(exact, "__pv", "left").select(
        F.col("__pv").alias("probe"),
        "cms_est",
        F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"),
    )


# --- HyperLogLog (from scratch, cross-engine exact) ------------------------

HLL_P = 6  # 2^6 = 64 registers; RSE ≈ 1.04/√64 = 13%

# α_m from Flajolet et al. 2007, §4 (m ≥ 16); the m ≥ 128 closed form
# otherwise. One Python float, spliced as a repr literal into BOTH
# engines so the numerator is bit-identical by construction.
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_m(p: int) -> int:
    if not 4 <= p <= 12:
        raise ValueError(f"hll precision p={p} outside [4, 12]")
    return 2**p


def _hll_alpha_m2(p: int) -> float:
    m = _hll_m(p)
    alpha = _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))
    return alpha * m * m


def _hll_rho_sql(w: str, nbits: int) -> str:
    """rho(w) = 1 + trailing-zero run of ``w`` (an ``nbits``-bit
    non-negative integer expression); w = 0 ⇒ nbits + 1.

    Generated CASE ladder of pure ``%``/``=`` integer arithmetic —
    identical text in both dialects, so there is no leading-zero /
    ``log2`` builtin to disagree about. (Trailing zeros, not leading:
    P(rho ≥ k) = 2^(1−k) either way for uniform bits — the
    Flajolet–Martin orientation — and trailing tests are one modulo
    each.)"""
    branches = " ".join(
        f"WHEN ({w}) % {2 ** k} = {2 ** (k - 1)} THEN {k}"
        for k in range(1, nbits + 1)
    )
    return (
        f"CAST(CASE WHEN ({w}) = 0 THEN {nbits + 1} {branches} END AS INT)"
    )


def _hll_coord_exprs(h: str, p: int, d: str) -> tuple[str, str]:
    """(bucket_sql, rho_sql) over a PRE-COMPUTED hash expression ``h``
    (ideally a column): bucket = low p bits, rho over the high 32−p
    bits. Production paths hash once into a column and run these over
    it — the rho CASE ladder has 27+ arms, and embedding the md5
    inline would repeat it per arm unless the engine CSEs."""
    m = _hll_m(p)
    w = P.idiv(h, str(m), d)
    return f"(({h}) % {m})", _hll_rho_sql(w, 32 - p)


def _hll_register_exprs(value_col: str, p: int, d: str) -> tuple[str, str]:
    """(bucket_sql, rho_sql) with the hash inlined per arm — the
    single-expression form the cross-dialect property test pins; hot
    paths use ``_hll_coord_exprs`` over a hashed column instead."""
    return _hll_coord_exprs(P.token_hash32(value_col, d), p, d)


def hll_registers(
    values: DataFrame,
    value_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """All 2^p register rows (register INT, rho INT), empty registers
    at rho 0.

    Map-side bucket/rho expressions + one ``max`` aggregation: the
    partial agg collapses each input partition to ≤ m rows before the
    exchange, so shuffle volume is constant in the corpus size — the
    whole point of HLL at 100 TB. NULL values are skipped (not a
    distinct value, matching ``count(DISTINCT ...)``)."""
    m = _hll_m(p)
    bucket, rho = _hll_coord_exprs("__h", p, P.SPARK)
    occupied = (
        values.filter(F.col(value_col).isNotNull())
        .select(
            F.expr(P.token_hash32(value_col, P.SPARK)).alias("__h")
        )
        .select(
            F.expr(bucket).cast("int").alias("register"),
            F.expr(rho).alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )
    full = values.sparkSession.range(m).select(
        F.col("id").cast("int").alias("register")
    )
    return full.join(occupied, "register", "left").select(
        "register", F.coalesce("rho", F.lit(0)).cast("int").alias("rho")
    )


def hll_registers_grouped(
    values: DataFrame,
    value_col: str,
    group_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """Per-group register frames in one pass: (group, register, rho)
    with all 2^p registers for every group that has non-NULL values —
    the ``GROUP BY``-shaped distinct count (distinct users per
    event_type, distinct shingles per source, …). Same map-side
    bucket/rho + partial-max shape as ``hll_registers``; the exchange
    carries ≤ partitions·groups·m rows."""
    m = _hll_m(p)
    bucket, rho = _hll_coord_exprs("__h", p, P.SPARK)
    occupied = (
        values.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.expr(P.token_hash32(value_col, P.SPARK)).alias("__h"),
        )
        .select(
            "grp",
            F.expr(bucket).cast("int").alias("register"),
            F.expr(rho).alias("rho"),
        )
        .groupBy("grp", "register")
        .agg(F.max("rho").alias("rho"))
    )
    groups = occupied.select("grp").distinct()
    full = groups.crossJoin(
        values.sparkSession.range(m).select(
            F.col("id").cast("int").alias("register")
        )
    )
    return full.join(occupied, ["grp", "register"], "left").select(
        "grp",
        "register",
        F.coalesce("rho", F.lit(0)).cast("int").alias("rho"),
    )


def hll_estimate_grouped(
    registers: DataFrame, p: int = HLL_P
) -> DataFrame:
    """One row per group: (grp, est_distinct, n_zero_regs) — the same
    exact fold as ``hll_estimate`` under a groupBy."""
    num = _hll_alpha_m2(p)
    return (
        registers.groupBy("grp")
        .agg(
            F.sum(F.expr(_hll_pow_case(p))).alias("__s"),
            F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
            .cast("int")
            .alias("n_zero_regs"),
        )
        .select(
            "grp",
            (
                F.expr(f"CAST('{num!r}' AS DOUBLE)") / F.col("__s")
            ).alias("est_distinct"),
            "n_zero_regs",
        )
    )


def hll_grouped_sql(
    value_sql: str, p: int = HLL_P
) -> tuple[str, str]:
    """DuckDB twins of the grouped register/estimate pair over
    ``value_sql`` (two columns: ``grp``, ``v``). Returns
    (registers_sql, estimate_sql_over('hllgrpregs'))."""
    m = _hll_m(p)
    bucket, rho = _hll_coord_exprs("h", p, P.DUCK)
    num = _hll_alpha_m2(p)
    regs = f"""
    SELECT g.grp, CAST(r.r AS INTEGER) AS register,
           CAST(COALESCE(occ.rho, 0) AS INTEGER) AS rho
    FROM (SELECT DISTINCT grp FROM ({value_sql}) WHERE v IS NOT NULL) g
    CROSS JOIN (SELECT unnest(range({m})) AS r) r
    LEFT JOIN (
      SELECT grp, {bucket} AS register, max({rho}) AS rho
      FROM (
        SELECT grp, {P.token_hash32('v', P.DUCK)} AS h
        FROM ({value_sql}) WHERE v IS NOT NULL
      ) GROUP BY 1, 2
    ) occ ON occ.grp = g.grp AND occ.register = r.r
    """
    est = f"""
    SELECT grp,
           CAST('{num!r}' AS DOUBLE) / sum({_hll_pow_case(p)})
             AS est_distinct,
           CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_zero_regs
    FROM hllgrpregs GROUP BY grp
    """
    return regs, est


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Register-wise max of two register frames — the HLL union. The
    merged sketch of disjoint (or overlapping!) corpus parts equals
    the sketch of their union, which is what makes per-partition /
    per-day sketches composable without re-reading data."""
    return (
        a.unionByName(b)
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def _hll_pow_case(p: int) -> str:
    """2^(−rho) as a CASE ladder of exact string-cast literals
    (``repr`` of a power of two round-trips exactly; no ``power()``
    libm call in either engine)."""
    nbits = 32 - p
    arms = " ".join(
        f"WHEN rho = {k} THEN CAST('{2.0 ** -k!r}' AS DOUBLE)"
        for k in range(0, nbits + 2)
    )
    return f"CASE {arms} END"


def hll_estimate(registers: DataFrame, p: int = HLL_P) -> DataFrame:
    """One row (est_distinct DOUBLE, n_zero_regs INT) from a full
    register frame: E = α_m·m² / Σ 2^(−M_j).

    Bit-reproducible across engines/partitionings: every 2^(−M_j) term
    is a multiple of 2^(−(32−p+1)) and ≤ 1, so with m ≤ 4096 terms any
    partial sum fits in < 53 significand bits — the float sum is EXACT
    and therefore order-independent. The raw estimator only (no
    small-range ``ln`` correction — see ``hll_corrected_estimate``)."""
    num = _hll_alpha_m2(p)
    return registers.agg(
        F.sum(F.expr(_hll_pow_case(p))).alias("__s"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
        .cast("int")
        .alias("n_zero_regs"),
    ).select(
        (F.expr(f"CAST('{num!r}' AS DOUBLE)") / F.col("__s")).alias(
            "est_distinct"
        ),
        "n_zero_regs",
    )


def hll_corrected_estimate(
    est_distinct: float, n_zero_regs: int, p: int = HLL_P
) -> float:
    """Driver-side small-range correction (Flajolet et al. 2007 §4):
    linear counting m·ln(m/V) when E ≤ 2.5m and some register is
    empty. One scalar ``ln`` on the driver — deliberately excluded
    from the cross-engine row (libm-bound)."""
    import math

    m = _hll_m(p)
    if est_distinct <= 2.5 * m and n_zero_regs > 0:
        return m * math.log(m / n_zero_regs)
    return est_distinct


def hll_update_py(
    registers: list[int], values, p: int = HLL_P
) -> list[int]:
    """Pure-Python register update — the streaming state path's
    kernel (``streaming.ops.hll_distinct_stream``). Bit-identical to
    ``hll_registers``: the hash is the same "BIGINT of md5's first 8
    hex digits" as ``portable.token_hash32`` (Spark casts the string
    to its UTF-8 bytes before md5, as ``.encode`` does here), and
    bucket/rho are the same integer arithmetic. NULLs skipped."""
    import hashlib

    m = _hll_m(p)
    nbits = 32 - p
    regs = list(registers)
    for v in values:
        if v is None:
            continue
        h = int(
            hashlib.md5(str(v).encode("utf-8")).hexdigest()[:8], 16
        )
        b, w = h % m, h // m
        if w == 0:
            rho = nbits + 1
        else:
            rho = 1
            while w % 2 == 0:
                w //= 2
                rho += 1
        if rho > regs[b]:
            regs[b] = rho
    return regs


def hll_estimate_py(
    registers: list[int], p: int = HLL_P
) -> tuple[float, int]:
    """(est_distinct, n_zero_regs) from a register list — the same
    fold as ``hll_estimate``, bit-identical because every 2^(−M) term
    and partial sum is exactly representable (module docstring), so
    Python's left-to-right sum equals the engines' aggregation in
    any order."""
    s = sum(2.0 ** -int(r) for r in registers)
    nz = sum(1 for r in registers if r == 0)
    return _hll_alpha_m2(p) / s, nz


def hll_registers_sql(value_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of ``hll_registers`` over ``value_sql`` (one column
    ``v``): all 2^p (register, rho) rows, same integers."""
    m = _hll_m(p)
    bucket, rho = _hll_coord_exprs("h", p, P.DUCK)
    return f"""
    SELECT CAST(r.r AS INTEGER) AS register,
           CAST(COALESCE(occ.rho, 0) AS INTEGER) AS rho
    FROM (SELECT unnest(range({m})) AS r) r
    LEFT JOIN (
      SELECT {bucket} AS register, max({rho}) AS rho
      FROM (
        SELECT {P.token_hash32('v', P.DUCK)} AS h
        FROM ({value_sql}) WHERE v IS NOT NULL
      ) GROUP BY 1
    ) occ ON occ.register = r.r
    """


def hll_estimate_sql(registers_sql: str, p: int = HLL_P) -> str:
    """DuckDB twin of ``hll_estimate`` over a register CTE/subquery."""
    num = _hll_alpha_m2(p)
    return f"""
    SELECT CAST('{num!r}' AS DOUBLE) / sum({_hll_pow_case(p)})
             AS est_distinct,
           CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_zero_regs
    FROM ({registers_sql})
    """


# --- Bloom filter — exact-reproducible membership sketch -------------------
# (Bloom 1970.) Same design rules as the HLL/CMS above: md5-derived bit
# positions so both engines compute identical registers, 32-bit words
# packed into BIGINTs (bit 31 max keeps every shift/or positive — no
# sign or overflow divergence between engines), ONE hash aggregation
# whose exchange is bounded by partitions × m/32 words, never by input
# rows. The collected word vector (m/32 longs — bounded by
# construction) inlines into probe plans as a literal array, so
# membership tests ride the scan map-side: the 100 TB shape for
# "was this in yesterday's corpus" is a ~KB broadcast literal and zero
# shuffle, where an anti join would re-shuffle the corpus.

BLOOM_M = 8192  # bits (power of two); 256 packed words
BLOOM_K = 4     # hash functions


def _bloom_check_m(m_bits: int) -> None:
    """The packed layout sizes the vector as m_bits//32 words while
    positions reach m_bits−1: a non-multiple-of-32 m_bits would index
    past the last word (IndexError in bloom_vector, or a NULL
    element_at in bloom_probe_expr that reads as a silent FALSE
    NEGATIVE). Reject it at every entry point instead."""
    if m_bits <= 0 or m_bits % 32 != 0:
        raise ValueError(
            f"m_bits must be a positive multiple of 32, got {m_bits}"
        )


def _bloom_pos(var: str, i: int, m_bits: int, d: str) -> str:
    """Bit position of hash i for value expression ``var``."""
    salted = f"CONCAT('{i}:', {var})"
    return f"({P.token_hash32(salted, d)} % {m_bits})"


def bloom_words(
    values: DataFrame,
    value_col: str = "v",
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Build the filter as (word, bits) rows — word = pos div 32, bits
    = OR of (1 << pos%32) — at most m_bits/32 rows, exact integers,
    partitioning-independent."""
    _bloom_check_m(m_bits)
    coords = F.explode(
        F.array(
            *[
                F.expr(_bloom_pos(value_col, i, m_bits, P.SPARK))
                for i in range(k)
            ]
        )
    ).alias("pos")
    return (
        values.filter(F.col(value_col).isNotNull())
        .select(coords)
        .select(
            F.expr(P.idiv("pos", "32", P.SPARK)).alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )


def bloom_words_sql(
    values_sql: str,
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """DuckDB twin of ``bloom_words`` over ``values_sql`` (one column
    ``v``): identical (word, bits) rows."""
    _bloom_check_m(m_bits)
    pos_arms = " UNION ALL ".join(
        f"SELECT {_bloom_pos('v', i, m_bits, P.DUCK)} AS pos"
        f" FROM vals" for i in range(k)
    )
    return f"""
    SELECT {P.idiv('pos', '32', P.DUCK)} AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
    FROM (WITH vals AS ({values_sql}) {pos_arms})
    GROUP BY word
    """


def bloom_vector(
    words: DataFrame, m_bits: int = BLOOM_M
) -> list[int]:
    """Collect the filter into a dense word vector — bounded BY
    CONSTRUCTION at m_bits/32 rows."""
    _bloom_check_m(m_bits)
    vec = [0] * (m_bits // 32)
    for r in words.collect():
        vec[int(r["word"])] = int(r["bits"])
    return vec


def bloom_probe_expr(
    var: str,
    vec: list[int],
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """Spark boolean expression: value ``var`` might be a member (all
    k bits set in the LITERAL word array — map-side, no join). Usable
    inside higher-order-function lambdas (``var`` may be a lambda
    variable)."""
    _bloom_check_m(m_bits)
    arr = "array(" + ",".join(f"{x}L" for x in vec) + ")"
    checks = []
    for i in range(k):
        pos = _bloom_pos(var, i, m_bits, P.SPARK)
        word = P.idiv(f"({pos})", "32", P.SPARK)
        checks.append(
            f"(element_at({arr}, CAST({word} AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT),"
            f" CAST(({pos}) % 32 AS INT))) != 0"
        )
    return "(" + " AND ".join(checks) + ")"


def bloom_member_sql(
    probes_sql: str,
    regs_cte: str,
    m_bits: int = BLOOM_M,
    k: int = BLOOM_K,
) -> str:
    """DuckDB twin of the probe: per value ``v`` from ``probes_sql``,
    ``member`` true iff all k bits are set in the registers CTE named
    ``regs_cte`` (a missing word row reads as unset bits via the left
    join)."""
    _bloom_check_m(m_bits)
    arms = " UNION ALL ".join(
        f"SELECT v, {_bloom_pos('v', i, m_bits, P.DUCK)} AS pos"
        f" FROM probevals" for i in range(k)
    )
    return f"""
    SELECT v, bool_and(
             COALESCE((r.bits >> CAST(pos % 32 AS INTEGER)) & 1, 0) = 1
           ) AS member
    FROM (WITH probevals AS ({probes_sql}) {arms}) p
    LEFT JOIN {regs_cte} r
      ON r.word = {P.idiv('pos', '32', P.DUCK)}
    GROUP BY v
    """


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two filters built with the same (m, k): word-wise bit OR.
    OR is idempotent and associative, so merges tree-aggregate across
    any executor topology and a value merged twice changes nothing.
    Merge-then-probe equals build-on-the-unioned-input exactly (both
    are the OR of the same per-value bit sets)."""
    return (
        a.unionByName(b)
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two count-min sketches of the same (depth, width):
    counter-wise sum — exact, associative, the multiset-union sketch
    by linearity. Point-query error bounds degrade only with the
    merged TOTAL mass, exactly as a single-pass build would."""
    return (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def bloom_fold(value_col: str = "v", m_bits: int = BLOOM_M, k: int = BLOOM_K):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping a
    PERSISTENT Bloom filter — the membership-index member of the
    ingest-maintenance family (digest index, band indexes, SRP index,
    BM25 postings, ANN codes, SCD2 store… and the ~KB filter the
    cheap map-side membership probes load). Each micro-batch's values
    fold in via ``bloom_merge`` (word-wise OR); the snapshot is ≤ m/32
    rows, a few KB."""

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        new = bloom_words(
            batch_df.select(F.col(value_col).alias("v")), "v", m_bits, k
        )
        return (new if cur is None else bloom_merge(cur, new)).coalesce(1)

    return fold


# --- Mergeable equi-width histogram — bounded-error quantiles ---------------
# The simplest mergeable quantile structure with a DETERMINISTIC,
# engine-independent layout: literal bucket edges spliced at build
# time, exact integer counts per bucket (one hash agg, partial-
# aggregated map-side, exchange bounded by partitions × n_buckets),
# counter-sum merge. Quantile answers carry a BY-CONSTRUCTION error
# bound of one bucket width — unlike sampled/randomized sketches
# (t-digest, KLL) whose content depends on arrival order, this one is
# a pure function of the multiset, so it composes with the cross-
# engine-exact oracle discipline if ever promoted to a driver row.


def histogram_sketch(
    values: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 64,
) -> DataFrame:
    """(bucket, cnt) rows over literal equi-width edges; values at or
    below ``lo`` land in bucket 0, at or above ``hi`` in the last —
    the conventional clamped tails."""
    if not hi > lo:
        raise ValueError("need hi > lo")
    width = (hi - lo) / n_buckets
    b = F.floor(
        (F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)
    ).cast("int")
    bucket = F.least(
        F.greatest(b, F.lit(0)), F.lit(n_buckets - 1)
    )
    return (
        values.filter(F.col(value_col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counter-sum merge of two histograms with the same edges."""
    return (
        a.unionByName(b).groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    )


def histogram_sketch_grouped(
    values: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 64,
) -> DataFrame:
    """(group..., bucket, cnt) — one histogram PER GROUP in a single
    pass (the ``hll_registers_grouped`` convention): answers "the
    score distribution of every cluster/source at once" with one
    exchange of ≤ |groups|·n_buckets rows instead of one job per
    group. Feeds ``histogram_quantile`` per group for e.g.
    ``curation.cluster_prune_by_threshold`` cutoffs."""
    if not hi > lo:
        raise ValueError("need hi > lo")
    width = (hi - lo) / n_buckets
    b = F.floor(
        (F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)
    ).cast("int")
    bucket = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
    return (
        values.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile(
    hist_rows: list,
    q: float,
    lo: float,
    hi: float,
    n_buckets: int = 64,
) -> tuple[float, float]:
    """(lower, upper) bounds on the q-quantile from collected
    (bucket, cnt) rows — the true quantile lies within the returned
    bucket's edges (tails clamp to lo/hi). Driver-side over ≤
    n_buckets rows."""
    if not 0 <= q <= 1:
        raise ValueError("q must be in [0, 1]")
    width = (hi - lo) / n_buckets
    counts = {int(r["bucket"]): int(r["cnt"]) for r in hist_rows}
    total = sum(counts.values())
    if total == 0:
        raise ValueError("empty histogram")
    target = q * total
    run = 0
    for bkt in range(n_buckets):
        run += counts.get(bkt, 0)
        # q == 0 means "the minimum": that lies in the first
        # NON-EMPTY bucket, so an empty leading bucket never answers
        if run >= target and counts.get(bkt, 0) > 0:
            return (lo + bkt * width, lo + (bkt + 1) * width)
    return (hi - width, hi)


def bloom_cardinality_estimate(
    vec: list[int], k: int = BLOOM_K
) -> float:
    """Swamidass–Baldi estimate of how many distinct values a filter
    holds: n̂ = −(m/k)·ln(1 − X/m) with X = set bits. Driver-side over
    the collected word vector (ln is libm-bound, so this never enters
    a cross-engine row — the same quarantine as the HLL linear-
    counting correction). Saturated filters (X == m) estimate +inf."""
    import math

    m = 32 * len(vec)
    x = sum(bin(w & 0xFFFFFFFF).count("1") for w in vec)
    if x >= m:
        return float("inf")
    return -(m / k) * math.log(1.0 - x / m)


def cms_fold(value_col: str = "v", depth: int = 4, width: int = 256):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping a
    PERSISTENT count-min sketch — the frequency twin of ``bloom_fold``.
    Counter sums are not idempotent, so the store's replay skip is
    what keeps a replayed batch from double-counting; the snapshot is
    ≤ depth×width counter rows."""

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        new = count_min_counters(
            batch_df.select(F.col(value_col).alias("v")), "v", depth, width
        )
        return (new if cur is None else cms_merge(cur, new)).coalesce(1)

    return fold


# --- q-digest: mergeable deterministic quantile sketch ----------------------
# Shrivastava et al. 2004 ("Medians and Beyond"), rebuilt CANONICALLY:
# the digest is a pure function of the value multiset — mass starts at
# the integer leaves and percolates up the implicit binary tree level
# by level; a parent absorbs its subtree's pending mass while the
# running total stays <= floor(n/k), otherwise the pending children
# become digest nodes. That determinism (no insertion order, no
# randomness) is what lets a DuckDB twin re-derive every node AND the
# quantile answers bitwise — the HLL/KMV cross-engine-exact
# discipline applied to quantiles, where the engines' native
# approx_percentile implementations never agree.
#
# Size: O(k log U) nodes (a kept sibling group's subtree total
# exceeds n/k, so kept groups number <= k per level). Rank error of a
# quantile answer: < log2(U)/k * n (each ancestor on the search path
# contributes < n/k uncounted mass) — the classic bound, asserted in
# tests. Exchange: the leaf aggregation is distinct-value-bounded and
# every level above is smaller; the 100 TB shape is ONE value-keyed
# agg then log2(U) shrinking aggregates.

QDIG_LEVELS = 10  # domain [0, 1024) — events.value clamps into it
QDIG_K = 32


def _qdigest_percolate_local(
    fr_df: DataFrame, thr: int, levels: int, from_nodes: bool
) -> DataFrame:
    """The q-digest bottom-up percolation as ONE single-task job.

    After the leaf aggregation the frontier is bounded by the domain
    (≤ 2^levels rows — a constant, never corpus-scaled), yet the
    distributed level loop pays 2·levels driver-synchronized
    localCheckpoint jobs. The frontier crosses the Python boundary
    once (`repartition(1)` — not coalesce, which would collapse the
    upstream corpus aggregation into the same task) and the loop
    replays in pure integer arithmetic, so the result is bitwise the
    loop's by construction (the components local_fixpoint
    convention). ``from_nodes``: input rows are (level, lo, hi, cnt)
    digest nodes re-entering at their level (the merge shape) instead
    of level-0 (idx, cnt) leaves (the build shape)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("level", IntegerType(), True),
            StructField("lo", LongType(), True),
            StructField("hi", LongType(), True),
            StructField("cnt", LongType(), True),
        ]
    )

    def _fold(batches):
        import pandas as pd

        by_level: dict = {}
        for pdf in batches:
            if from_nodes:
                for lv, lo, c in zip(
                    pdf["level"].tolist(),
                    pdf["lo"].tolist(),
                    pdf["cnt"].tolist(),
                ):
                    d = by_level.setdefault(int(lv), {})
                    i = int(lo) >> int(lv)
                    d[i] = d.get(i, 0) + int(c)
            else:
                d = by_level.setdefault(0, {})
                for i, c in zip(
                    pdf["idx"].tolist(), pdf["cnt"].tolist()
                ):
                    d[int(i)] = d.get(int(i), 0) + int(c)
        out = []
        fr: dict = {}
        for lvl in range(levels):
            for i, c in by_level.get(lvl, {}).items():
                fr[i] = fr.get(i, 0) + c
            tot: dict = {}
            for i, c in fr.items():
                tot[i >> 1] = tot.get(i >> 1, 0) + c
            w = 1 << lvl
            for i, c in fr.items():
                if tot[i >> 1] > thr:
                    out.append((lvl, i * w, (i + 1) * w - 1, c))
            fr = {p: t for p, t in tot.items() if t <= thr}
        for i, c in by_level.get(levels, {}).items():
            fr[i] = fr.get(i, 0) + c
        u = 1 << levels
        for i, c in fr.items():
            if c > 0:
                out.append((levels, i * u, (i + 1) * u - 1, c))
        out = [r for r in out if r[3] > 0]
        yield pd.DataFrame(
            out, columns=["level", "lo", "hi", "cnt"], dtype=object
        )

    return fr_df.repartition(1).mapInPandas(_fold, out_schema)


def qdigest_build(
    df: DataFrame,
    value_col: str,
    k: int = QDIG_K,
    levels: int = QDIG_LEVELS,
    local: bool = True,
) -> tuple[DataFrame, int]:
    """((level, lo, hi, cnt) digest nodes, n) — the canonical q-digest
    of ``floor(value_col)`` clamped into [0, 2^levels). One count job
    derives the compression threshold (the sampled-trainer convention:
    a 1-row collect, never data rows). ``local`` (default) runs the
    percolation as one single-task job over the ≤ 2^levels-row leaf
    aggregate (see _qdigest_percolate_local; pinned equal to the loop
    by tests/test_qdigest.py::test_qdigest_local_matches_loop); the
    distributed level loop under ``local=False`` runs ``levels`` tiny
    aggregates over shrinking frames, each lineage-truncated (the
    plan would otherwise double per level — keep/frontier both
    reference the previous frontier)."""
    u = 1 << levels
    # NULLs are not values: they would form a NULL leaf that can never
    # percolate and would break the Σcnt == n mass conservation every
    # consumer (merge, the store sink's n recovery) relies on
    src = df.filter(F.col(value_col).isNotNull())
    leaf = src.select(
        F.expr(
            f"CAST(least(greatest(floor({value_col}), 0), {u - 1})"
            " AS BIGINT)"
        ).alias("idx")
    )
    fr = leaf.groupBy("idx").agg(F.count(F.lit(1)).alias("cnt"))
    n = int(src.count())
    thr = max(n // k, 1)
    if local:
        return _qdigest_percolate_local(fr, thr, levels, False), n
    fr = fr.localCheckpoint()
    kept = None
    for lvl in range(levels):
        par = fr.groupBy(F.expr("idx >> 1").alias("pidx")).agg(
            F.sum("cnt").alias("tot")
        )
        joined = fr.join(
            par, F.expr("idx >> 1") == F.col("pidx")
        ).localCheckpoint()
        keep_l = joined.filter(F.col("tot") > thr).select(
            F.lit(lvl).alias("level"),
            F.expr(f"idx * {1 << lvl}").alias("lo"),
            F.expr(f"(idx + 1) * {1 << lvl} - 1").alias("hi"),
            "cnt",
        )
        kept = keep_l if kept is None else kept.unionByName(keep_l)
        fr = (
            par.filter(F.col("tot") <= thr)
            .select(F.col("pidx").alias("idx"), F.col("tot").alias("cnt"))
            .localCheckpoint()
        )
    root = fr.select(
        F.lit(levels).alias("level"),
        F.expr(f"idx * {u}").alias("lo"),
        F.expr(f"(idx + 1) * {u} - 1").alias("hi"),
        "cnt",
    )
    out = root if kept is None else kept.unionByName(root)
    return out.filter(F.col("cnt") > 0), n


def qdigest_quantiles(
    digest: DataFrame, n: int, qs: list[float]
) -> DataFrame:
    """(q, est) rows — for each quantile, the classic postorder scan:
    digest nodes ordered by (hi, lo), cumulative count, the first node
    whose running total reaches ceil(q·n) answers with its ``hi``.
    Integer arithmetic after one pinned double multiply (q·n is the
    same IEEE product in both engines), so answers are cross-engine
    exact."""
    from pyspark.sql import Window as W

    for q in qs:
        if not 0 <= q <= 1:
            raise ValueError(f"quantile {q} outside [0, 1]")
    w = W.orderBy("hi", "lo").rowsBetween(W.unboundedPreceding, 0)
    cum = digest.withColumn("cum", F.sum("cnt").over(w))
    out = None
    for q in qs:
        rank = f"CAST(ceil(CAST('{q!r}' AS DOUBLE) * {n}) AS BIGINT)"
        row = (
            cum.filter(F.expr(f"cum >= greatest({rank}, 1)"))
            .orderBy("hi", "lo")
            .limit(1)
            .select(
                F.expr(f"CAST('{q!r}' AS DOUBLE)").alias("q"),
                F.col("hi").alias("est"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def qdigest_merge(
    a: DataFrame, b: DataFrame, n: int, k: int = QDIG_K,
    levels: int = QDIG_LEVELS,
    local: bool = True,
) -> DataFrame:
    """Merged digest: node counts union-summed, then the SAME
    bottom-up percolation re-run with the combined n — mass already
    settled at internal nodes re-enters the loop at its level (the
    classic mergeability argument; the rank-error bound adds). The
    result is a pure function of the two digests' node multisets, so
    merge order and partitioning cannot change it. ``local``
    (default): the two digests are O(k·levels) nodes, so the
    percolation runs as one single-task job (see
    _qdigest_percolate_local) instead of the 2·levels-job loop."""
    both = a.unionByName(b).groupBy("level", "lo", "hi").agg(
        F.sum("cnt").alias("cnt")
    )
    thr = max(n // k, 1)
    if local:
        return _qdigest_percolate_local(both, thr, levels, True)
    kept = None
    fr = None
    for lvl in range(levels + 1):
        at = both.filter(F.col("level") == lvl).select(
            F.expr(f"lo >> {lvl}").alias("idx"), "cnt"
        )
        fr = at if fr is None else fr.unionByName(at).groupBy("idx").agg(
            F.sum("cnt").alias("cnt")
        )
        if lvl == levels:
            break
        par = fr.groupBy(F.expr("idx >> 1").alias("pidx")).agg(
            F.sum("cnt").alias("tot")
        )
        joined = fr.join(
            par, F.expr("idx >> 1") == F.col("pidx")
        ).localCheckpoint()
        keep_l = joined.filter(F.col("tot") > thr).select(
            F.lit(lvl).alias("level"),
            F.expr(f"idx * {1 << lvl}").alias("lo"),
            F.expr(f"(idx + 1) * {1 << lvl} - 1").alias("hi"),
            "cnt",
        )
        kept = keep_l if kept is None else kept.unionByName(keep_l)
        fr = (
            par.filter(F.col("tot") <= thr)
            .select(F.col("pidx").alias("idx"), F.col("tot").alias("cnt"))
            .localCheckpoint()
        )
    u = 1 << levels
    root = fr.select(
        F.lit(levels).alias("level"),
        F.expr(f"idx * {u}").alias("lo"),
        F.expr(f"(idx + 1) * {u} - 1").alias("hi"),
        "cnt",
    )
    out = root if kept is None else kept.unionByName(root)
    return out.filter(F.col("cnt") > 0)


def qdigest_ctes(
    leaf_sql: str,
    k: int = QDIG_K,
    levels: int = QDIG_LEVELS,
    prefix: str = "qd",
) -> str:
    """DuckDB CTE chain re-deriving ``qdigest_build`` bitwise —
    levels UNROLLED (the kmeans_exact_cent_ctes discipline). Ends with
    ``{prefix}dig(level, lo, hi, cnt)`` and ``{prefix}n(n)``.
    ``leaf_sql`` must yield one ``v`` column of raw values (the clamp
    to [0, 2^levels) happens here, identically to the Spark side)."""
    u = 1 << levels
    parts = [
        f"{prefix}leaf AS MATERIALIZED (\n"
        f"  SELECT CAST(least(greatest(floor(v), 0), {u - 1}) AS BIGINT)"
        f" AS idx FROM ({leaf_sql})\n)",
        f"{prefix}n AS MATERIALIZED (SELECT count(*) AS n FROM {prefix}leaf)",
        f"{prefix}thr AS MATERIALIZED"
        f" (SELECT greatest(n // {k}, 1) AS t FROM {prefix}n)",
        f"{prefix}fr0 AS MATERIALIZED (\n"
        f"  SELECT idx, count(*) AS cnt FROM {prefix}leaf GROUP BY idx\n)",
    ]
    for lvl in range(levels):
        parts.append(
            f"{prefix}par{lvl} AS MATERIALIZED (\n"
            f"  SELECT idx >> 1 AS pidx, SUM(cnt) AS tot"
            f" FROM {prefix}fr{lvl} GROUP BY idx >> 1\n)"
        )
        parts.append(
            f"{prefix}keep{lvl} AS (\n"
            f"  SELECT {lvl} AS level, f.idx * {1 << lvl} AS lo,"
            f" (f.idx + 1) * {1 << lvl} - 1 AS hi, f.cnt\n"
            f"  FROM {prefix}fr{lvl} f JOIN {prefix}par{lvl} p"
            f" ON p.pidx = (f.idx >> 1)\n"
            f"  WHERE p.tot > (SELECT t FROM {prefix}thr)\n)"
        )
        parts.append(
            f"{prefix}fr{lvl + 1} AS MATERIALIZED (\n"
            f"  SELECT pidx AS idx, tot AS cnt FROM {prefix}par{lvl}\n"
            f"  WHERE tot <= (SELECT t FROM {prefix}thr)\n)"
        )
    keeps = "\n  UNION ALL\n  ".join(
        f"SELECT level, lo, hi, cnt FROM {prefix}keep{lvl}"
        for lvl in range(levels)
    )
    parts.append(
        f"{prefix}dig AS MATERIALIZED (\n"
        f"  SELECT * FROM (\n  {keeps}\n  UNION ALL\n"
        f"  SELECT {levels} AS level, idx * {u} AS lo,"
        f" (idx + 1) * {u} - 1 AS hi, cnt FROM {prefix}fr{levels}\n"
        f"  ) WHERE cnt > 0\n)"
    )
    return ",\n".join(parts)


def qdigest_quantiles_sql(
    qs: list[float], prefix: str = "qd"
) -> str:
    """The quantile scan over ``{prefix}dig`` as one SQL select —
    (q, est) rows, the exact postorder cumulative rule of
    ``qdigest_quantiles``."""
    arms = []
    for q in qs:
        arms.append(
            f"(SELECT CAST('{q!r}' AS DOUBLE) AS q, hi AS est FROM (\n"
            f"  SELECT hi, lo, SUM(cnt) OVER"
            f" (ORDER BY hi, lo ROWS UNBOUNDED PRECEDING) AS cum"
            f" FROM {prefix}dig\n"
            f") WHERE cum >= greatest(CAST(ceil(CAST('{q!r}' AS DOUBLE)"
            f" * (SELECT n FROM {prefix}n)) AS BIGINT), 1)\n"
            f"ORDER BY hi, lo LIMIT 1)"
        )
    return "\nUNION ALL\n".join(arms)


def qdigest_fold(
    value_col: str = "v", k: int = QDIG_K, levels: int = QDIG_LEVELS
):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping a
    PERSISTENT q-digest — the QUANTILE member of the ingest-store
    family (Bloom = membership, count-min = frequency, rollup =
    metrics, top-k = heavy keys, this = distribution shape). The
    snapshot is O(k log U) node rows, independent of stream length;
    the per-batch build is delta-sized. The merged digest re-runs the
    canonical percolation with the combined n (Σcnt of both sides —
    mass is conserved, so the snapshot needs no separate count)."""

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        new, _n = qdigest_build(
            batch_df.select(F.col(value_col).alias("v")), "v",
            k=k, levels=levels,
        )
        if cur is None:
            return new.coalesce(1)
        n_total = int(cur.agg(F.sum("cnt")).first()[0] or 0) + int(
            new.agg(F.sum("cnt")).first()[0] or 0
        )
        return qdigest_merge(cur, new, n_total, k=k, levels=levels).coalesce(1)

    return fold


# --- AMS / tug-of-war F2 sketch (round 11) ---------------------------------

AMS_DEPTH = 7


def ams_f2_counters(
    values: DataFrame, value_col: str = "v", depth: int = AMS_DEPTH
) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) tug-of-war counters for the second
    frequency moment F2 = Σ_x f(x)² — the self-join-size / skew
    estimator a planner consults before committing to a join strategy
    (CMS answers point queries, KMV/HLL answer F0; this is the F2
    member of the sketch family). ``depth`` independent counters:

        counter_d = Σ_x s_d(x) · f(x),   s_d(x) ∈ {−1, +1}

    computed as ONE hash aggregation over the exploded value stream —
    each occurrence emits ``depth`` signed coordinates map-side and
    partial agg collapses per-partition mass, so the exchange carries
    ≤ partitions·depth rows (CONSTANT in corpus size). Each counter is
    an EXACT integer (the sign is a parity bit of the portable hash),
    so the sketch is deterministic, partition-invariant, mergeable by
    plain addition across shards/engines, and cross-engine
    reproducible — counter_d² is an unbiased F2 estimate and the
    median over ``depth`` counters is the estimator. Use an ODD depth
    so the median is an order statistic, not an interpolation."""
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (
                        F.lit(1)
                        - F.lit(2)
                        * (
                            F.expr(
                                P.token_hash32(
                                    f"CONCAT('{d}:ams:', {value_col})",
                                    P.SPARK,
                                )
                            )
                            % F.lit(2)
                        )
                    ).alias("s"),
                )
                for d in range(depth)
            ]
        )
    ).alias("__c")
    return (
        values.filter(F.col(value_col).isNotNull())
        .select(coords)
        .select(F.col("__c.d").alias("d"), F.col("__c.s").alias("s"))
        .groupBy("d")
        .agg(F.sum("s").cast("bigint").alias("counter"))
    )


def ams_f2_estimate(counters: DataFrame) -> DataFrame:
    """Median-of-estimates over the tug-of-war counters — one DOUBLE.
    With an odd depth the median is the exact middle counter² (an
    integer-valued double well under 2^53), so it reproduces bitwise
    across engines."""
    return counters.agg(
        F.expr(
            "CAST(percentile(counter * counter, 0.5) AS DOUBLE)"
        ).alias("est_f2")
    )


def ams_f2_exact(values: DataFrame, value_col: str = "v") -> DataFrame:
    """Exact F2 = Σ_x f(x)² (one BIGINT) — ships beside the estimate,
    the module's honesty convention. Two hash aggs: per-value counts,
    then the squared sum."""
    return (
        values.filter(F.col(value_col).isNotNull())
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("__f"))
        .agg(
            F.sum(F.col("__f") * F.col("__f")).cast("bigint").alias(
                "exact_f2"
            )
        )
    )


def ams_f2_sql(values_sql: str, depth: int = AMS_DEPTH) -> str:
    """DuckDB twin of ``ams_f2_counters`` — same hash string
    ``'{d}:ams:' || v``, same parity sign, one grouped sum."""
    bkt = P.token_hash32(
        "CONCAT(CAST(j.j AS VARCHAR), ':ams:', t.v)", P.DUCK
    )
    return (
        f"SELECT j.j AS d,"
        f" CAST(SUM(1 - 2 * (({bkt}) % 2)) AS BIGINT) AS counter"
        f" FROM ({values_sql}) t"
        f" CROSS JOIN (SELECT unnest(range({depth})) AS j) j"
        f" GROUP BY 1"
    )
