"""The compaction half of streaming/sinks.py, tested once on plain
directories (no JVM): the park-then-promote swap survives a crash at
each step, and the frontier split holds back each run's last batch."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from example_kafkastreams_spark.streaming.sinks import (
    COMPACTED_RUN,
    split_frontier,
    swap_tree,
)


def _write(root, version):
    os.makedirs(os.path.join(root, "sub"))
    with open(os.path.join(root, "sub", "part"), "w") as f:
        f.write(version)


def _version(root):
    with open(os.path.join(root, "sub", "part")) as f:
        return f.read()


def _crash():
    raise OSError("injected crash")


@pytest.mark.parametrize(
    "crash, survivor",
    [("in_write_new", "old"), ("after_park", "old"), ("after_promote", "new")],
)
def test_swap_tree_crash_then_next_call(tmp_path, monkeypatch, crash, survivor):
    """Whatever step a swap crashes at, the next call first leaves the
    tree exactly the old one or the new one, with no sibling, and then
    swaps normally."""
    live = str(tmp_path / "tree")
    _write(live, "old")
    with monkeypatch.context() as m:
        if crash == "after_park":  # the second rename is the promote
            renames = []
            rename = os.rename

            def rename_once(src, dst):
                renames.append(src)
                if len(renames) == 2:
                    _crash()
                rename(src, dst)

            m.setattr(os, "rename", rename_once)
        if crash == "after_promote":  # pruning the parked twin fails
            rmtree = shutil.rmtree
            m.setattr(
                shutil,
                "rmtree",
                lambda p, **kw: _crash()
                if p.endswith(".__pre_compact__")
                else rmtree(p, **kw),
            )
        with pytest.raises(OSError, match="injected"):
            with swap_tree(live) as (cur, tmp):
                assert cur == live
                _write(tmp, "new")
                if crash == "in_write_new":
                    _crash()

    with swap_tree(live) as (cur, tmp):  # writes nothing: keeps live
        assert _version(cur) == survivor
        assert glob.glob(live + ".*") == []
    assert _version(live) == survivor

    with swap_tree(live) as (cur, tmp):
        _write(tmp, "next")
    assert _version(live) == "next"
    assert glob.glob(live + ".*") == []


def test_split_frontier_holds_each_runs_last_batch():
    a, b = "a" * 16, "b" * 16
    pairs = [(a, 1), (COMPACTED_RUN, 0), (b, 0), (a, 2), (a, 0), (a, 2)]
    fold, held = split_frontier(pairs)
    assert held == [(a, 2), (b, 0)]
    assert fold == [(COMPACTED_RUN, 0), (a, 0), (a, 1)]
    assert split_frontier([(COMPACTED_RUN, 0)]) == ([(COMPACTED_RUN, 0)], [])
    assert split_frontier([]) == ([], [])
