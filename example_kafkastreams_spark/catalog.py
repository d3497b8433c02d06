"""Table loaders over the driver-generated parquet testdata.

Reading parquet with the schema left to the footer (not inferSchema-style
guessing) keeps column pruning + predicate pushdown intact: Catalyst
prunes ``ReadSchema`` to referenced columns and pushes comparison
filters into the scan. ``load_table`` is the single entry point so every
operator/query reads through the same code path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .schemas import TABLE_NAMES, TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Confs load_table needs ONLY while resolving the parquet footer schema
# (the relation's schema is baked into the plan at read time — verified:
# restoring them immediately after spark.read.parquet() leaves later
# execution of both physical shapes intact). The DataFrameReader option
# form does not exist for these, so set-and-restore is the only way to
# avoid mutating the semantics of the caller's session for all of its
# OTHER parquet reads.
_READ_CONFS = {
    # TIMESTAMP(NANOS) files (rounds 1-2 testdata) are rejected by
    # vanilla Spark (PARQUET_TYPE_ILLEGAL) unless read as raw int64 ns.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp[us] isAdjustedToUTC=false files (current testdata): with
    # inferTimestampNTZ disabled the SCAN ITSELF emits TimestampType
    # (raw micros read as UTC instants). Crucially this keeps timestamp
    # predicates pushable into the parquet scan (PushedFilters shows
    # GreaterThanOrEqual(ts, ...)), which a post-scan NTZ->LTZ cast
    # would forfeit — at 100 TB that is the difference between pruning
    # row groups and reading them all.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


# Memo of built scan DataFrames, keyed by (applicationId, sf_dir,
# name). A load_table call costs ~140 ms of driver work (4 conf
# round-trips + a parquet footer read + the ts normalization), and the
# bench surface makes hundreds of them per session over the SAME
# static testdata directories; the scan plan is immutable (DataFrames
# are), so handing the same object back is semantics-free. Keyed by
# applicationId so a restarted session never serves plans bound to a
# dead SparkContext (the q55/q57 memo convention). The memo also makes
# repeated loads safe under the thread-overlap builders (guide §2.6):
# only the FIRST load of a (dir, table) runs the set-and-restore
# window — concurrent loaders of a memo hit never touch session confs.
_TABLE_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """NOT thread-safe on first load of a given (sf_dir, name): the
    set-and-restore of _READ_CONFS mutates session state for the
    duration of the footer read, so a concurrent query on the same
    session could observe the temporary values, and two overlapping
    first loads could restore stale ones. Memo hits (every call after
    the first) are read-only and thread-safe. The driver contract is
    single-threaded; pre-warm the memo before handing the session to a
    multi-threaded caller (ADVICE r4)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    memo_key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_MEMO.get(memo_key)
    if cached is not None:
        return cached
    # The generator has shipped two physical timestamp shapes across
    # rounds, and load_table must accept BOTH under any caller-provided
    # session (the correctness driver builds its own) — see _READ_CONFS.
    prior: dict[str, str | None] = {}
    for k, v in _READ_CONFS.items():
        try:
            prior[k] = spark.conf.get(k)
        except Exception:
            prior[k] = None
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(table_path(sf_dir, name))
    finally:
        for k, old in prior.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    for field in TESTDATA_SCHEMAS[name].fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        read_type = df.schema[field.name].dataType
        if isinstance(read_type, T.LongType):
            # int64 ns -> integer DIV 1000: the same floor-to-micros
            # truncation DuckDB applies, so oracle comparison is exact.
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} DIV 1000"))
            )
        elif isinstance(read_type, T.TimestampNTZType):
            # Fallback if a future Spark drops the infer conf: read the
            # NTZ wall-clock as a UTC instant — the same value the
            # primary infer-off path produces — on ANY session timezone.
            # convert_timezone shifts the wall from UTC to the session
            # zone, so the NTZ->LTZ cast (which interprets in the
            # session zone) lands on exactly wall-as-UTC; a bare cast
            # would shift by the session offset instead.
            df = df.withColumn(
                field.name,
                F.expr(
                    f"CAST(convert_timezone('UTC', current_timezone(),"
                    f" {field.name}) AS TIMESTAMP)"
                ),
            )
    _TABLE_MEMO[memo_key] = df
    return df


# Memo of small id-ordered head samples, keyed by (applicationId,
# sf_dir, table, id_col, cols, n). The ANN/quantizer build surface
# (q45/q46/q56) repeatedly collects tiny deterministic samples of the
# SAME table — first-16 centroids, first-8 queries, first-128 training
# rows — each a separate scan+sort+collect job (guide §7.3: driver-
# synchronized fixed work). The head is a pure function of the static
# parquet, so one memoized collect of the LONGEST prefix serves every
# shorter prefix by value-slicing driver-side.
_HEAD_MEMO: dict = {}


def load_head_rows(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    n: int,
    id_col: str = "vec_id",
    cols: tuple[str, ...] = ("vec_id", "embedding"),
) -> list:
    """The id-ordered rows of ``table`` with ``id_col < n``, collected
    once per (session, dir, table, n) and memoized. Rows carry
    ``cols`` in order; callers slice shorter prefixes by value
    (``int(r[0]) < k``) — identical to collecting that prefix."""
    key = (
        spark.sparkContext.applicationId, sf_dir, table, id_col,
        tuple(cols), int(n),
    )
    cached = _HEAD_MEMO.get(key)
    if cached is None:
        cached = (
            load_table(spark, sf_dir, table)
            .filter(F.col(id_col) < n)
            .orderBy(id_col)
            .select(*cols)
            .collect()
        )
        _HEAD_MEMO[key] = cached
    return cached
