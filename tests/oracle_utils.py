"""Mirror of the driver's DuckDB oracle comparison, for local tests.

The driver hashes TYPED values after sorting columns by name — an
int64 ``1791`` and a float64 ``1791.0`` hash differently even though
they compare numerically equal (that mismatch is exactly what sank
q50 in round 1 and q35 in round 2: DuckDB HUGEINT aggregates
materialize as float64 in pandas while Spark's BIGINT stays int64).
So the faithful local check is ``compare_typed``: pandas dtype KIND
must agree per column, and values must be exactly equal — no
float tolerance, the engine's determinism design (registry.dsum,
rounded percentiles, unique tie-breaks) is built to deliver identical
bits on both engines."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from example_kafkastreams_spark.schemas import TABLE_NAMES


def duckdb_run(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_typed(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Driver-faithful comparison: sorted columns, sorted rows, dtype
    KIND parity per column (int vs float vs bool vs object vs
    datetime), exact value equality. Returns a list of mismatch
    descriptions (empty = match)."""
    errs: list[str] = []
    got, want = _canon(got), _canon(want)
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        errs.append(f"row count {len(got)} vs oracle {len(want)}")
        return errs
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind != w.dtype.kind:
            errs.append(
                f"{c}: typed dtype mismatch — spark {g.dtype} vs oracle "
                f"{w.dtype} (the driver hashes typed values; cast the "
                f"oracle, e.g. CAST(... AS BIGINT))"
            )
            continue
        ga, wa = g.astype(object), w.astype(object)
        mismatch = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(ga, wa))
            if (_isna(a) != _isna(b)) or (not _isna(a) and not _cell_eq(a, b))
        ]
        if mismatch:
            errs.append(f"{c}: first mismatches {mismatch[:5]}")
    return errs


def _isna(x) -> bool:
    # pd.isna on an array cell returns an array — a list/array cell is
    # a present value, not a null.
    if isinstance(x, (list, tuple)) or type(x).__name__ == "ndarray":
        return False
    return bool(pd.isna(x))


def _cell_eq(a, b) -> bool:
    # Exact equality; floats must match bit-for-bit (NaN==NaN handled
    # by the isna guard above). Arrays/lists compare element-wise.
    if isinstance(a, (list, tuple)) or type(a).__name__ == "ndarray":
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(_cell_eq(x, y) for x, y in zip(la, lb))
    return bool(a == b)


def typed_errors(
    got: pd.DataFrame,
    want: pd.DataFrame,
    branches: tuple[str, tuple[str, ...]] | None = None,
) -> list[str]:
    """``compare_typed``, and for a branch-merged slot (``branches`` =
    its ``registry.BRANCHES`` entry) a mismatch is reported per failing
    branch: both collected frames are split by the discriminator
    column, so a broken branch is named without another Spark job.
    Tags outside the declared set (and NULL tags) get their own
    entries."""
    errs = compare_typed(got, want)
    if not errs or not branches:
        return errs
    disc, declared = branches
    if disc not in got.columns or disc not in want.columns:
        return errs
    tags = {None if _isna(t) else t for t in [*got[disc], *want[disc]]}

    def rows(df: pd.DataFrame, tag) -> pd.DataFrame:
        return df[df[disc].isna()] if tag is None else df[df[disc] == tag]

    per_branch = [
        f"{disc}={tag}: " + "; ".join(e)
        for tag in sorted(tags | set(declared), key=str)
        if (e := compare_typed(rows(got, tag), rows(want, tag)))
    ]
    return per_branch or errs


def assert_matches_oracle_typed(
    spark_df,
    sql: str,
    sf_dir: str,
    branches: tuple[str, tuple[str, ...]] | None = None,
):
    """The driver-sim check: typed, exact; a branch-merged slot's
    failure names its failing branches."""
    errs = typed_errors(spark_df.toPandas(), duckdb_run(sql, sf_dir), branches)
    assert not errs, "; ".join(errs)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str, rel_tol: float = 1e-9):
    """Legacy tolerance-based check (kept for operator-level tests that
    compare against hand-built frames at coarse tolerance). Also
    enforces dtype-kind parity so the q35/q50 typing family cannot
    slip through any oracle test."""
    got = _canon(spark_df.toPandas())
    want = _canon(duckdb_run(sql, sf_dir))
    assert sorted(got.columns) == sorted(want.columns), (
        f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"row count {len(got)} vs oracle {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        assert g.dtype.kind == w.dtype.kind, (
            f"{c}: typed dtype mismatch — spark {g.dtype} vs oracle {w.dtype}"
        )
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            for i, (a, b) in enumerate(zip(g, w)):
                an, bn = pd.isna(a), pd.isna(b)
                assert an == bn, f"{c}[{i}]: nullness {a} vs {b}"
                if not an:
                    assert math.isclose(a, b, rel_tol=rel_tol, abs_tol=1e-9), (
                        f"{c}[{i}]: {a} vs {b}"
                    )
        else:
            ga, wa = g.astype(object), w.astype(object)
            mismatch = [
                (i, a, b)
                for i, (a, b) in enumerate(zip(ga, wa))
                if (pd.isna(a) != pd.isna(b)) or (not pd.isna(a) and a != b)
            ]
            assert not mismatch, f"{c}: first mismatches {mismatch[:5]}"
