"""Streaming operators (SURVEY.md §7 phase 4) — the reference's two
topologies as Structured Streaming dataflows.

A streaming query is the batch query run incrementally (Structured
Streaming, SIGMOD 2018), so the reference's operators are written once,
in ``operators/``, and run on a stream that carries a watermark:

| reference                                  | here                                    |
|--------------------------------------------|-----------------------------------------|
| windowed dedup DSL (A1)                    | dedup.dedup_tumbling_window             |
| emission-anchored dedup Processor API (A2) | dedup_emission_anchored_stream          |
|                                            | (fold: dedup.emission_anchored_keep)    |
| retention / store TTL                      | withWatermark                           |
| windowed stream-stream left join (J1/J2)   | asof_join.interval_left_join            |
|                                            | (``bucket_seconds=0``)                  |
| approx dedup-within-retention              | dropDuplicatesWithinWatermark           |
| both clickstream topologies (E2/E3)        | clickstream_enrich_stream               |

State-bound notes (the 100 TB concern): every operator declares a
watermark, which is exactly the reference's store retention
(ClickstreamJoinExample.scala:230-231,247-250) — state is evicted when
event time passes, so steady-state footprint is (distinct keys in the
retention horizon) × O(1), independent of stream length. The
stream-stream join keys include the equi-columns, so Spark partitions
both sides identically — one exchange per side, the same property the
reference hand-builds with co-partitioned topics (SURVEY.md §4). A
streaming stateful operator requires hash partitioning on exactly its
own keys, so a downstream dedup on a superset of the join key still
re-shuffles: ``clickstream_enrich_stream`` plans three exchanges.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.asof_join import interval_left_join
from ..operators.dedup import emission_anchored_keep


def session_window_agg_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    gap: str = "5 seconds",
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Per-key session windows (dynamic, gap-closed) — the natural
    extension of the reference's emission-anchored dedup (SURVEY.md
    §2.5): a session closes when ``gap`` passes with no event, exactly
    how A2's window re-anchors on activity. Emits one row per closed
    session with count and span.
    """
    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def windowed_count_update_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    window_duration: str = "5 seconds",
    watermark_delay: str = "10 seconds",
    slide_duration: str | None = None,
) -> DataFrame:
    """A5 analog (``toStream`` on a windowed KTable,
    ClickstreamJoinExample.scala:257): a windowed aggregate whose sink
    runs in UPDATE output mode emits the changed (window, key) rows per
    trigger — the changelog-stream view of the aggregate. Pair with
    ``start_memory_sink(..., output_mode="update")``.

    ``slide_duration`` < ``window_duration`` turns the tumbling window
    into a HOPPING one (each record lands in window/slide overlapping
    windows — Kafka Streams' ``TimeWindows.of(w).advanceBy(s)``, which
    the reference never uses but the DSL exposes). State grows by the
    same factor; the watermark bounds it identically.
    """
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), *keys, "n_events"
        )
    )


def clickstream_enrich_stream(
    ev: DataFrame,
    pv: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "pv_ts",
    lookback_seconds: int = 15,
    lookahead_seconds: int = 0,
    dedup_keys: list[str] | None = None,
    client_key: str = "client_id",
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """The reference's clickstream topology end-to-end as one streaming
    dataflow: windowed join (the batch ``interval_left_join`` on
    watermarked inputs) → EvPv shaping with NULLs for unmatched (P6) →
    dedup within the retention window (A2-approx via
    dropDuplicatesWithinWatermark) → re-key to the client key (P4).

    ``lookahead_seconds`` selects which of the reference's two
    topologies this is: 0 (default) is the Processor-API look-back join
    (E2, ClickstreamJoinExample.scala:163-197); ``lookahead ==
    lookback`` is the DSL topology's symmetric ``JoinWindows.of``
    window (E3, :199-270) — under which the out-of-order ev-before-pv
    fixture (:144-149) matches, the documented behavioral split between
    the two.

    The join plans one exchange per input, hash-partitioned on ``on``
    — the co-partitioning property the reference hand-builds by
    keeping both topics keyed by ClientKey (its entire 10×
    optimization, README.md:12). The dedup keys are a superset of
    ``on``, but a streaming stateful operator requires hash
    partitioning on exactly its own keys, so the dedup re-shuffles the
    join output: three exchanges in all (pinned by
    ``test_enrich_stream_restart_recovers_join_and_dedup_state``).
    """
    joined, _, _ = interval_left_join(
        ev.withWatermark(left_ts, watermark_delay),
        pv.withWatermark(right_ts, watermark_delay),
        on=on, left_ts=left_ts, right_ts=right_ts,
        lookback_seconds=lookback_seconds,
        lookahead_seconds=lookahead_seconds,
        bucket_seconds=0,
    )
    ev_cols = [f"l.{c}" for c in ev.columns]
    # EvPv shape (ClickstreamJoinExample.scala:60): pv payload WITHOUT
    # its event-time column — also required so the downstream stateful
    # dedup sees exactly one watermarked column.
    pv_payload = [c for c in pv.columns if c not in on and c != right_ts]
    shaped = joined.select(
        *[F.col(c).alias(c.split(".", 1)[1]) for c in ev_cols],
        *[F.col(f"r.{c}").alias(c) for c in pv_payload],
    )
    dedup_keys = dedup_keys or [c for c in ev.columns if c != left_ts]
    # A2-approx: drop a record whose key was seen within the watermark
    # horizon (state = emitted keys, evicted by watermark — the
    # reference's emit-branch-only ``put``,
    # DeduplicationExample.scala:137-140); ``shaped`` already carries
    # the left watermark
    deduped = shaped.dropDuplicatesWithinWatermark(dedup_keys)
    # P4: client key first, everything else in declared order
    rest = [c for c in deduped.columns if c != client_key]
    return deduped.select(client_key, *rest)


def dedup_emission_anchored_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    window_seconds: float = 15.0,
    watermark_delay: str = "30 seconds",
) -> DataFrame:
    """A2 exact semantics (DeduplicationExample.scala:126-142) as a
    custom stateful operator: per key, emit iff nothing was EMITTED in
    the trailing window; emitting re-anchors.

    ``applyInPandasWithState``: one shuffle on ``keys``; state per key
    is a single long (last emission epoch-µs) — the minimal state the
    reference stores (put only in the emit branch). EVENT-time timeout
    = the reference's store retention: a key's state is reaped once the
    watermark passes last_emit + window (timeouts ride the watermark,
    so no idle micro-batch spinning — a processing-time timeout would
    keep the query re-triggering forever). Records are processed in
    event-time order within each micro-batch (the reference processes
    arrival order; its generator is in-order per key). Each chunk runs
    through the batch operator's fold, ``emission_anchored_keep``, with
    the key's state as the carried anchor.
    """
    out_schema = df.schema
    state_schema = T.StructType(
        [T.StructField("last_emit_us", T.LongType())]
    )
    win_us = int(window_seconds * 1_000_000)
    col_order = [f.name for f in df.schema.fields]

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        last = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(
                [ts_col] + [c for c in pdf.columns if c != ts_col],
                kind="mergesort",
            )
            # normalize to µs regardless of pandas datetime unit
            ts_us = (
                pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
            )
            keep, last = emission_anchored_keep(ts_us, last, win_us)
            if keep:
                yield pdf.iloc[keep][col_order]
        if last is not None:
            state.update((last,))
            # retention: reap once the watermark passes the window
            expiry_ms = last // 1000 + win_us // 1000 + 1
            state.setTimeoutTimestamp(
                max(expiry_ms, state.getCurrentWatermarkMs() + 1)
            )

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def pack_chunks_stream(
    chunks: DataFrame,
    budget: int,
    shards: int = 8,
    ts_col: str = "ts",
    id_col: str = "doc_id",
    order_col: str = "chunk_idx",
    text_col: str = "chunk_text",
    tokens_col: str = "n_tokens",
    sep: str = "\n\n",
    watermark_delay: str | None = "30 seconds",
    linger_seconds: float = 60.0,
) -> DataFrame:
    """Streaming twin of ``operators.packing.pack_chunks`` (greedy
    mode): chunks arrive on a stream, fixed-budget training sequences
    leave it — the packing stage of a CONTINUOUS ingest pipeline,
    where the batch packer would re-pack the whole corpus per ingest.

    Chunks hash into ``shards`` independent packers
    (``pmod(xxhash64(doc_id), shards)`` — all chunks of a document
    reach one packer, mirroring the batch packer's doc-locality).
    Each shard's state is ITS ONE OPEN PACK (seq, n_chunks, n_tokens,
    joined text, last event µs): micro-batches append chunks in
    (event-time, doc, order) order through the SAME
    close-if-won't-fit / append / close-if-full fold as the batch
    packer, emit every pack that closes, and carry the open pack to
    the next batch — exactly the open-pack carry ``pack_chunks``
    performs across Arrow batches, so a stream of N micro-batches
    packs bit-identically to one batch pass over the same ordered
    chunks (unit-pinned). An event-time timeout flushes the open pack
    once the watermark passes last activity + ``linger_seconds`` (a
    trainer wants the tail, not an eternally open pack); pack ids
    namespace by shard (``s{shard}-{seq}``), globally unique with no
    global counter.

    100 TB shape: one shuffle (the groupBy on the shard key), state
    per shard is a single sub-budget pack (O(shards · budget) total,
    independent of stream length), and emission is append-mode —
    downstream ``write_training_shards`` consumes it unchanged.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    out_schema = T.StructType(
        [
            T.StructField("pack_id", T.StringType()),
            T.StructField("n_chunks", T.IntegerType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("n_chunks", T.IntegerType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("last_us", T.LongType()),
        ]
    )
    linger_ms = int(linger_seconds * 1000)
    cols = ["pack_id", "n_chunks", "n_tokens", "text"]

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        shard = key[0]

        def row(seq: int, n: int, ntok: int, text: str) -> dict:
            return {
                "pack_id": f"s{shard}-{seq}",
                "n_chunks": n,
                "n_tokens": ntok,
                "text": text,
            }

        if state.hasTimedOut:
            seq, n, ntok, text, last_us = state.get
            # keep (seq+1, empty pack) instead of remove(): pack ids
            # stay unique across flushes, and the state keyspace is
            # O(shards) by construction — a constant, not stream-bound
            # — so never reaping it costs nothing. No new timeout: an
            # empty pack has nothing to flush; the next chunk re-arms.
            state.update((seq + 1, 0, 0, "", last_us))
            if n:  # flush the open tail pack
                yield pd.DataFrame([row(seq, n, ntok, text)], columns=cols)
            return
        seq, n, ntok, text, last_us = (
            state.get if state.exists else (0, 0, 0, "", 0)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(
                [ts_col, id_col, order_col], kind="mergesort"
            )
            ts_us = (
                pdf[ts_col].astype("datetime64[us]").astype("int64")
            )
            last_us = max(last_us, int(ts_us.max()))
            rows: list[dict] = []
            for t_text, t_tok in zip(pdf[text_col], pdf[tokens_col]):
                t_tok = int(t_tok)
                # the batch packer's exact fold (packing.py pack()):
                # close if it won't fit, append, close if full
                if n and ntok + t_tok > budget:
                    rows.append(row(seq, n, ntok, text))
                    seq, n, ntok, text = seq + 1, 0, 0, ""
                text = t_text if not n else text + sep + t_text
                n += 1
                ntok += t_tok
                if ntok >= budget:  # full (or oversized singleton)
                    rows.append(row(seq, n, ntok, text))
                    seq, n, ntok, text = seq + 1, 0, 0, ""
            if rows:
                yield pd.DataFrame(rows, columns=cols)
        state.update((seq, n, ntok, text, last_us))
        # flush the tail once the watermark passes inactivity + linger
        state.setTimeoutTimestamp(
            max(last_us // 1000 + linger_ms,
                state.getCurrentWatermarkMs() + 1)
        )

    sharded = chunks.withColumn(
        "__shard",
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("int"),
    )
    # None = the input already carries a watermark (an upstream
    # stateful stage defined it — Spark forbids redefining one), e.g.
    # the ingest gate's dropDuplicatesWithinWatermark feeding chunks
    # into this packer within a single query
    if watermark_delay is not None:
        sharded = sharded.withWatermark(ts_col, watermark_delay)
    return (
        sharded.groupBy("__shard")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def heavy_hitters_stream(
    events: DataFrame,
    group_col: str,
    value_col: str,
    capacity: int = 8,
) -> DataFrame:
    """Streaming heavy hitters per group — Misra–Gries summaries
    (Misra & Gries 1982) folded over micro-batches via merge (the
    mergeable-summaries construction, Agarwal et al. 2012): state per
    group is AT MOST ``capacity`` (value, count) counters no matter
    how many distinct values the stream carries; every value with
    true frequency > N/(capacity+1) is guaranteed tracked, and each
    tracked estimate undercounts its true count by at most the
    emitted ``err_bound``.

    Per micro-batch: exact-count the batch's values (pandas, one
    pass), merge into the tracked counters, and if more than
    ``capacity`` survive, subtract the (capacity+1)-th largest count
    from all and keep the positive ones — the batched equivalent of
    MG's decrement-all step (``err_bound`` accumulates the subtracted
    amounts = the max undercount of any estimate). Merging
    batch-aggregated counts instead of folding row-by-row makes the
    result independent of row order WITHIN a micro-batch; the batch
    sequence itself is the stream order, pinned by the goldens.

    Emits the full counter table each batch the group sees data —
    (group, batch_seq, value, est_count, err_bound, n_seen), update
    mode (a monitoring surface: top values + error bar, refreshed per
    batch).

    100 TB shape: ONE shuffle (the group key), state O(capacity) per
    group — constant in stream length AND in distinct-value
    cardinality, which is the entire point: an exact streaming
    groupBy-count of a 10B-distinct-value stream is state-unbounded,
    the MG summary never exceeds ``capacity`` counters. No watermark
    needed: nothing is time-windowed and state never grows.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    out_schema = T.StructType(
        [
            T.StructField("group", T.StringType()),
            T.StructField("batch_seq", T.LongType()),
            T.StructField("value", T.StringType()),
            T.StructField("est_count", T.LongType()),
            T.StructField("err_bound", T.LongType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("values", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("err", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("batch_seq", T.LongType()),
        ]
    )
    cols = ["group", "batch_seq", "value", "est_count", "err_bound",
            "n_seen"]

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        group = key[0]
        if state.exists:
            values, counts, err, n_seen, batch_seq = state.get
            tracked = dict(zip(list(values), [int(c) for c in counts]))
        else:
            tracked, err, n_seen, batch_seq = {}, 0, 0, 0
        # ``pdfs`` yields Arrow CHUNKS of one micro-batch — fold the
        # exact batch counts across all of them FIRST, then merge
        # once, so the summary is invariant to Arrow batch sizing
        batch: dict[str, int] = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            for v, c in pdf["__value"].value_counts().items():
                batch[v] = batch.get(v, 0) + int(c)
        if batch:
            n_seen += sum(batch.values())
            for v, c in batch.items():
                tracked[v] = tracked.get(v, 0) + c
            if len(tracked) > capacity:
                # batched decrement-all: subtract the (capacity+1)-th
                # largest count; ≤ capacity counters stay positive
                sub = sorted(tracked.values(), reverse=True)[capacity]
                tracked = {
                    v: c - sub for v, c in tracked.items() if c > sub
                }
                err += sub
            batch_seq += 1
            yield pd.DataFrame(
                [
                    {
                        "group": group,
                        "batch_seq": batch_seq,
                        "value": v,
                        "est_count": c,
                        "err_bound": err,
                        "n_seen": n_seen,
                    }
                    # deterministic emission order: count desc, value
                    for v, c in sorted(
                        tracked.items(), key=lambda kv: (-kv[1], kv[0])
                    )
                ],
                columns=cols,
            )
        state.update(
            (
                [v for v, _ in sorted(tracked.items())],
                [c for _, c in sorted(tracked.items())],
                err,
                n_seen,
                batch_seq,
            )
        )

    return (
        events.withColumn(
            "__group", F.col(group_col).cast("string")
        )
        .withColumn("__value", F.col(value_col).cast("string"))
        .groupBy("__group")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def hll_distinct_stream(
    events: DataFrame,
    group_col: str,
    value_col: str,
    p: int = 6,
) -> DataFrame:
    """Streaming approximate distinct count per group — the
    HyperLogLog register array carried as managed state, updated per
    micro-batch with the SAME hash/rho/estimate arithmetic as the
    batch ``operators.sketches`` sketch (shared kernels
    ``hll_update_py``/``hll_estimate_py``), so after any prefix of
    micro-batches the emitted estimate is BIT-IDENTICAL to running
    the batch ``hll_registers → hll_estimate`` over the union of
    those batches' rows (golden-pinned). Emits one update-mode row
    per group per batch: (group, batch_seq, est_distinct,
    n_zero_regs, n_seen).

    100 TB shape: ONE shuffle (the group key); state is exactly 2^p
    register ints per group — constant in stream length and in
    distinct cardinality, vs the unbounded per-value state of an
    exact streaming ``dropDuplicates().count()``. No watermark:
    registers never need eviction. A time-windowed variant is the
    same op keyed by (group, window_start) with the window column in
    the group key.
    """
    from ..operators.sketches import (
        _hll_m,
        hll_estimate_py,
        hll_update_py,
    )

    m = _hll_m(p)
    out_schema = T.StructType(
        [
            T.StructField("group", T.StringType()),
            T.StructField("batch_seq", T.LongType()),
            T.StructField("est_distinct", T.DoubleType()),
            T.StructField("n_zero_regs", T.IntegerType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("registers", T.ArrayType(T.IntegerType())),
            T.StructField("n_seen", T.LongType()),
            T.StructField("batch_seq", T.LongType()),
        ]
    )

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        group = key[0]
        if state.exists:
            registers, n_seen, batch_seq = state.get
            registers = [int(r) for r in registers]
        else:
            registers, n_seen, batch_seq = [0] * m, 0, 0
        saw = 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            vals = pdf["__value"].dropna()
            saw += len(vals)
            registers = hll_update_py(registers, vals, p)
        if saw:
            n_seen += saw
            batch_seq += 1
            est, nz = hll_estimate_py(registers, p)
            yield pd.DataFrame(
                [
                    {
                        "group": group,
                        "batch_seq": batch_seq,
                        "est_distinct": est,
                        "n_zero_regs": nz,
                        "n_seen": n_seen,
                    }
                ]
            )
        state.update((registers, n_seen, batch_seq))

    return (
        events.withColumn(
            "__group", F.col(group_col).cast("string")
        )
        .withColumn("__value", F.col(value_col).cast("string"))
        .groupBy("__group")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
