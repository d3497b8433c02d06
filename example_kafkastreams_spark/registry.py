"""Query registry + cross-engine determinism helpers.

The driver compares Spark results against DuckDB by value hash, so
every declared query must be *bitwise* reproducible across engines.
Two rules make that true:

1. Floating-point aggregation order is not deterministic under
   partial aggregation — so sums of doubles go through exact DECIMAL
   accumulation: per-row cast to a fixed scale (the row values have
   bounded decimals, so the cast recovers the exact value in both
   engines), exact decimal SUM, cast back to double. Averages are
   expressed as (decimal-sum → double) / count — one IEEE division of
   identical operands.
2. Every ordering (top-k, window ranks, first/last picks) carries a
   unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}
# merged slot -> (discriminator column, every value it emits)
BRANCHES: dict[str, tuple[str, tuple[str, ...]]] = {}

DAY_MS = 86_400_000


def query(
    name: str,
    oracle: str | None = None,
    branches: tuple[str, ...] = (),
    disc: str = "mode",
):
    """Register ``fn`` itself (no wrapper) as slot ``name``.

    A merged slot unions several branches and tags each row with its
    branch in column ``disc``; ``branches`` declares the full set of
    tags it emits, and is the one place that set is written down (the
    bench's per-branch timings, ``tools/profile_slot.py --branches``
    and the driver simulation's failing-branch report all read
    ``BRANCHES``; a registry test pins it equal to what the slot
    emits).

    Filtering ``disc == value`` times one branch only when its union
    children carry LITERAL tags: Catalyst folds every other child's
    tag predicate to false and prunes that child. A child whose tag is
    computed, or that emits several tags from one computation (q40's
    fused full/incr dedup aggregate), keeps a residual predicate and
    stays in every branch's filtered plan."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        if branches:
            BRANCHES[name] = (disc, tuple(branches))
        return fn

    return deco


def window_start_sql(ts: str = "ts", ms: int = DAY_MS) -> str:
    """DuckDB expression equal to Spark ``window(ts, ...).start``
    (epoch-aligned tumbling bucket, UTC)."""
    return (
        f"TIMESTAMP '1970-01-01' + to_milliseconds("
        f"CAST(floor(epoch_ms({ts}) / {ms}.0) * {ms} AS BIGINT))"
    )


def dsum(col: Column, scale: int = 6) -> Column:
    """Exact sum of a double column with ≤``scale`` decimals.

    Scaled-long accumulation: round(value·10^scale) is within 1 ulp of
    an integer (the row values have bounded decimals), so the long sum
    is exact and order-independent; the final long→double conversion
    and division are single IEEE ops — identical bits in Spark and
    DuckDB. Long path stays inside whole-stage codegen (a DECIMAL(28,_)
    sum would fall back to the ~10× slower BigDecimal path).

    Overflow bound: |sum·10^scale| must stay < 2^63 — holds through
    bench SFs with room; beyond ~1e9 rows of 1e5-magnitude values use
    DECIMAL and accept the slow path.
    """
    factor = 10 ** scale
    return F.sum(F.round(col * factor).cast("long")).cast("double") / F.lit(
        float(factor)
    )


def dsum_sql(expr: str, scale: int = 6) -> str:
    factor = 10 ** scale
    return (
        f"CAST(CAST(SUM(CAST(round(({expr}) * {factor}) AS BIGINT)) AS BIGINT)"
        f" AS DOUBLE) / {factor}.0"
    )


def davg(col: Column, scale: int = 6) -> Column:
    """Deterministic average: exact scaled sum → double, / count."""
    return dsum(col, scale) / F.count(col)


def davg_sql(expr: str, scale: int = 6) -> str:
    return f"({dsum_sql(expr, scale)}) / COUNT({expr})"
