"""Overlap independent eager build sections (guide §2.6).

Several query builders run EAGER Spark work at DataFrame-construction
time — component-loop fixpoints, index writes, bounded collect-to-
literal jobs. Spark's scheduler happily runs jobs from several driver
threads at once, and actions are only sequential because the build
code calls them sequentially; running independent sections from a
small thread pool lets the next section's jobs back-fill executor
slots freed by the current one's tail (and overlaps the py4j
plan-construction chatter, which is socket-bound, not GIL-bound).

Rules for callers:
* sections must be INDEPENDENT — no section may depend on another's
  returned frame (upstream shared frames built before the overlap);
* pre-warm `catalog.load_table` for every table a section reads (the
  memo makes subsequent loads read-only and thread-safe — a FIRST
  load mutates session confs during the footer read);
* sections that persist through ``persist_tracked`` are safe (list
  append is atomic under the GIL), and concurrent materialization of
  a shared cached frame is serialized per block by the BlockManager;
  each section runs in a copy of the caller's context, so inside a
  ``build_memo`` build its persists are owned by the memo.
"""

from __future__ import annotations

import contextvars
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark import inheritable_thread_target


def build_overlapped(
    builders: dict[str, Callable[[], Any]],
    max_workers: int | None = None,
) -> dict[str, Any]:
    """Run each builder in its own driver thread; return name->result.

    Exceptions propagate (first failing section raises). With a single
    builder the call is inlined — no thread, no overhead. Thread count
    defaults to the section count: build sections are job-latency
    bound, not CPU bound, so there is no reason to queue them.
    """
    if len(builders) <= 1:
        return {k: fn() for k, fn in builders.items()}

    def labeled(name: str, fn: Callable[[], Any]) -> Callable[[], Any]:
        # job descriptions are thread-local (guide §1.5), so each
        # section's eager jobs carry its name in the UI/REST metrics —
        # free attribution for the job-level profilers
        def run():
            # NOT getActiveSession(): the active session is
            # thread-local and a fresh pool thread has none
            try:
                from pyspark import SparkContext

                sc = SparkContext._active_spark_context
            except Exception:
                sc = None
            if sc is not None:
                sc.setJobDescription(f"build:{name}")
            try:
                return fn()
            finally:
                if sc is not None:
                    sc.setJobDescription(None)

        return run

    with ThreadPoolExecutor(max_workers=max_workers or len(builders)) as pool:
        futures = {
            k: pool.submit(
                contextvars.copy_context().run,
                inheritable_thread_target(labeled(k, fn)),
            )
            for k, fn in builders.items()
        }
        return {k: f.result() for k, f in futures.items()}
