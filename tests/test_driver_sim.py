"""Driver simulation — the single oracle-parity sweep.

Walks EVERY registered query against its DuckDB oracle exactly the way
the correctness driver does: sorted columns, sorted rows, TYPED exact
value comparison (no float tolerance — the driver hashes typed values,
which is what caught q50 in round 1 and q35 in round 2 while a
tolerance-based compare stayed green).

Also pins the contract surface: the driver verifies at most 50
queries, so the registry must not declare more — round 2 registered 55
and the five highest-numbered components silently received no
correctness row at all.

Runs at sf0.001 for speed; ``driver_sim.py`` at the repo root is the
same check at the driver's sf0.01 on a vanilla session — run it before
round end.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest

from example_kafkastreams_spark.queries import BRANCHES, ORACLE_SQL, QUERIES
from tests.conftest import SMOKE
from tests.oracle_utils import assert_matches_oracle_typed, typed_errors

DRIVER_MAX_QUERIES = 50


def test_registry_fits_driver_window():
    assert len(QUERIES) <= DRIVER_MAX_QUERIES, (
        f"{len(QUERIES)} queries registered but the driver checks at "
        f"most {DRIVER_MAX_QUERIES} — entries past the window get NO "
        f"correctness row (round-2 lesson: q56–q60 went unchecked)"
    )


def test_every_query_declares_oracle():
    missing = sorted(set(QUERIES) - set(ORACLE_SQL))
    assert not missing, f"queries without oracle SQL: {missing}"


def test_entry_module_contract():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        Path(__file__).resolve().parent.parent / "__spark_entry__.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(qs) == set(QUERIES)
    assert set(osql) == set(ORACLE_SQL)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_driver_sim_typed(spark, name):
    assert_matches_oracle_typed(
        QUERIES[name](spark, SMOKE), ORACLE_SQL[name], SMOKE, BRANCHES.get(name)
    )


def test_declared_branches_equal_emitted(spark):
    """``registry.BRANCHES`` is the one declaration of each merged
    slot's branch set (the bench's branch timings, ``profile_slot.py
    --branches`` and the failing-branch report read it), so the values
    each slot emits must EQUAL it: a declared branch the slot never
    emits would time an empty-pruned plan as 0 s forever, and an
    emitted one left undeclared would never be timed."""
    bad = []
    for name, (disc, modes) in sorted(BRANCHES.items()):
        out = QUERIES[name](spark, SMOKE)
        got = {r[0] for r in out.select(disc).distinct().collect()}
        if got != set(modes) or len(modes) != len(got):
            bad.append(f"{name}: declares {modes}, emits {sorted(got)}")
    assert BRANCHES and not bad, "\n".join(bad)


def test_typed_errors_name_failing_branches():
    want = pd.DataFrame(
        {"mode": ["a", "a", "b", "c"], "v": [1, 2, 3, 4]}
    )
    got = pd.DataFrame(
        {"mode": ["a", "a", "b", "c", "x"], "v": [1, 2, 30, 4, 5]}
    )
    errs = typed_errors(got, want, ("mode", ("a", "b", "c")))
    assert [e.split(":")[0] for e in errs] == ["mode=b", "mode=x"]
    assert typed_errors(got, want, None) == typed_errors(got, want)
    assert typed_errors(want, want, ("mode", ("a", "b", "c"))) == []
