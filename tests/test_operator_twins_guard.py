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
  ``transformWithStateInPandas`` fork of it fails here too;
* an ANN index is encoded and served by one dispatch each
  (``knn.ann_encode``, ``knn.ann_serve``), shared by the in-session
  build, the persistent artifact and the append sink: a branch on an
  index ``kind`` anywhere else (bar ``ann_drift``'s per-kind stats),
  or a definition of or reference to a removed per-kind wrapper,
  writer or unused trainer, fails here.

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
GONE_ANN = {
    "pq_ann_trained", "pq_ann_trained_build", "pq_ann_trained_serve",
    "ivf_pq_ann_trained", "ivf_pq_ann_trained_build",
    "ivf_pq_ann_trained_serve", "ivf_flat_ann_trained",
    "ivf_flat_ann_trained_build", "train_ivfpq_local",
    "pq_encode_vectorized", "ivf_pq_encode_local", "pq_index_write",
    "ivfpq_index_write", "ivfflat_index_write", "kmeans_train",
    "kmeans_inertia", "pq_codebook_trained", "brute_force_knn_vectorized",
}
GONE_TWINS |= GONE_ANN
INDEX_KINDS = {"pq", "ivfpq", "ivfflat"}
# (module, function) allowed to branch on an index kind
KIND_DISPATCH = {
    ("operators/knn.py", "ann_encode"),
    ("operators/knn.py", "ann_serve"),
    ("operators/ann_drift.py", "quantization_stats"),
}


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


def test_no_removed_ann_names_referenced():
    offenders = _offenders(lambda _, name, __: name in GONE_ANN)
    assert not offenders, (
        "build with ann_index.ann_build and serve with knn.ann_serve "
        "(or ann_index.ann_index_query):\n" + "\n".join(offenders)
    )


def _kind_branches(path: Path) -> Iterator[tuple[int, str]]:
    """(line, enclosing function) of every comparison against an index
    kind literal (``kind == "pq"``, ``meta["kind"] in ("pq", ...)``)."""

    def literals(node):
        if isinstance(node, ast.Constant):
            yield node.value
        elif isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            for elt in node.elts:
                yield from literals(elt)

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                # a nested function branches on behalf of its outer one
                yield from walk(child, func or child.name)
                continue
            if isinstance(child, ast.Compare) and any(
                v in INDEX_KINDS
                for side in (child.left, *child.comparators)
                for v in literals(side)
            ):
                yield child.lineno, func
            yield from walk(child, func)

    yield from walk(ast.parse(path.read_text(), str(path)), None)


def test_index_kind_branches_only_in_the_dispatch():
    sources = sorted(PKG.rglob("*.py"))
    offenders = [
        f"{path.relative_to(PKG)}:{line}: in {func}"
        for path in sources
        for line, func in _kind_branches(path)
        if (path.relative_to(PKG).as_posix(), func) not in KIND_DISPATCH
    ]
    found = {
        (path.relative_to(PKG).as_posix(), func)
        for path in sources
        for _, func in _kind_branches(path)
    }
    assert KIND_DISPATCH <= found, "the scan no longer sees the dispatch"
    assert not offenders, (
        "pick an ANN encoder in knn.ann_encode and a scorer in "
        "knn.ann_serve, not per call site:\n" + "\n".join(offenders)
    )
