"""Source guard for the one implementation of each reference operator.

A streaming query is the batch query run on a watermarked stream, so
the reference's operators are written once, in ``operators/``:

* A1 is ``dedup.dedup_tumbling_window`` and J1/J2 is
  ``asof_join.interval_left_join`` (``bucket_seconds=0`` on streams);
  a re-added ``windowed_dedup_stream``, ``interval_left_join_stream``
  or ``dedup_within_watermark`` twin fails here;
* the A2 fold is ``dedup.emission_anchored_keep``: a ``searchsorted``
  anywhere else in the package is a second copy of it;
* A2 runs on ``applyInPandasWithState`` everywhere, so a
  ``transformWithStateInPandas`` fork of it fails here too.

The scan reads code (names, attributes, imports, definitions), not
comments or docstrings.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "example_kafkastreams_spark"
FOLD_OWNER = PKG / "operators" / "dedup.py"
GONE_TWINS = {"windowed_dedup_stream", "interval_left_join_stream", "dedup_within_watermark"}


def _identifiers(path: Path) -> Iterator[tuple[int, str, bool]]:
    """(line, identifier, is_definition) for every name the code uses
    or defines."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name):
            yield node.lineno, node.id, False
        elif isinstance(node, ast.Attribute):
            yield node.lineno, node.attr, False
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.lineno, node.name, True
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield node.lineno, a.name.rsplit(".", 1)[-1], False


def _offenders(match) -> list[str]:
    sources = sorted(PKG.rglob("*.py"))
    assert FOLD_OWNER in sources and len(sources) > 20
    return [
        f"{path.relative_to(PKG)}:{line}: {name}"
        for path in sources
        for line, name, is_def in _identifiers(path)
        if match(path, name, is_def)
    ]


def test_a2_fold_only_in_dedup():
    offenders = _offenders(
        lambda path, name, _: name == "searchsorted" and path != FOLD_OWNER
    )
    assert not offenders, (
        "call operators.dedup.emission_anchored_keep instead of copying "
        "the A2 fold:\n" + "\n".join(offenders)
    )


def test_no_transform_with_state_fork():
    offenders = _offenders(
        lambda _, name, __: name == "transformWithStateInPandas"
    )
    assert not offenders, (
        "A2 runs on applyInPandasWithState (streaming.ops."
        "dedup_emission_anchored_stream):\n" + "\n".join(offenders)
    )


def test_no_streaming_twins_of_batch_operators():
    offenders = _offenders(lambda _, name, is_def: is_def and name in GONE_TWINS)
    assert not offenders, (
        "run the batch operator on a watermarked stream instead "
        "(dedup_tumbling_window, interval_left_join(bucket_seconds=0), "
        "dropDuplicatesWithinWatermark):\n" + "\n".join(offenders)
    )
