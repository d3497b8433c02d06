"""Source guard for the one branch declaration (``registry.query``).

A merged slot declares its union branches once, as
``@query(name, oracle, branches=(...), disc=...)``; the bench's branch
timings and floor rule, ``tools/profile_slot.py --branches`` and the
driver simulation read ``registry.BRANCHES``. This scan fails if a
hand-kept copy comes back:

* the per-slot round table the bench's floor rule used to read
  (``_MERGED_`` + ``SINCE``), in any Python file of the repo;
* a ``("qNN_...", "mode"|"method", (...))`` branch tuple in
  ``bench.py``, ``tools/`` or ``tests/``;
* a ``("mode", "method")`` discriminator guess in ``tools/``.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

ROUND_TABLE = re.compile(r"_MERGED_SINC[E]")
BRANCH_TUPLE = re.compile(r'\(\s*"q\d+_\w+",\s*"(?:mode|method)",\s*\(')
DISC_GUESS = re.compile(r'\(\s*"mode",\s*"method"\s*\)')


def _offenders(paths: list[Path], pattern: re.Pattern) -> list[str]:
    out = []
    for path in paths:
        text = path.read_text()
        for m in pattern.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            out.append(f"{path.relative_to(REPO)}:{line}: {m.group(0)!r}")
    return out


def _py(*dirs: str) -> list[Path]:
    return [p for d in dirs for p in sorted((REPO / d).rglob("*.py"))]


def test_no_round_table():
    paths = sorted(REPO.glob("*.py")) + _py(
        "example_kafkastreams_spark", "tools", "tests", "perfbench"
    )
    assert REPO / "bench.py" in paths
    offenders = _offenders(paths, ROUND_TABLE)
    assert not offenders, (
        "a branched slot's bench floor counts only when its recorded "
        "branch_timings equal registry.BRANCHES:\n" + "\n".join(offenders)
    )


def test_no_hand_kept_branch_lists():
    offenders = _offenders(
        [REPO / "bench.py", *_py("tools", "tests")], BRANCH_TUPLE
    )
    offenders += _offenders(_py("tools"), DISC_GUESS)
    assert not offenders, (
        "declare branches in @query(..., branches=..., disc=...) and "
        "read registry.BRANCHES:\n" + "\n".join(offenders)
    )
