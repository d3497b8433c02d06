"""Source guard for the one build-memo lifecycle (operators/cache.py).

Slot builds memoize through ``cache.build_memo`` and persist through
``persist_tracked``, which reads the frame's lifetime from the active
build. This scan fails if the hand-rolled pattern that lifecycle
replaced comes back anywhere else in the package:

* a module-level memo dict keyed by ``(<ctx>.applicationId, sf_dir)``
  — the slot-build key ``build_memo`` owns (the catalog's per-table
  scan memos also key on the table and hold unpersisted plans, not
  build outputs, so they are not build memos);
* a ``persist_fn`` parameter (or any mention of one);
* any ``persist_pinned`` reference.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "example_kafkastreams_spark"
OWNER = PKG / "operators" / "cache.py"


def _sources() -> list[Path]:
    return [p for p in sorted(PKG.rglob("*.py")) if p != OWNER]


def _is_build_key(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Tuple)
        and len(node.elts) == 2
        and isinstance(node.elts[0], ast.Attribute)
        and node.elts[0].attr == "applicationId"
    )


def test_no_hand_rolled_build_memos():
    offenders = []
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        where = path.relative_to(PKG)
        for node in ast.walk(tree):
            if _is_build_key(node):
                offenders.append(f"{where}:{node.lineno} (applicationId, sf_dir) key")
        offenders += [
            f"{where}: module-level {m.group(0)}"
            for m in re.finditer(r"^_Q\d+_CACHE\b", path.read_text(), re.M)
        ]
    assert not offenders, "use operators.cache.build_memo:\n" + "\n".join(offenders)


def test_no_persist_lifetime_plumbing():
    pattern = re.compile(r"\b(persist_fn|persist_pinned)\b")
    offenders = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in _sources()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, (
        "persist through operators.cache.persist_tracked; the build memo "
        "picks the lifetime:\n" + "\n".join(offenders)
    )
