"""Slowly-changing-dimension (SCD type 2) build + point-in-time join.

The reference's enrichment topologies join a fact stream against the
*latest* state of a keyed table (KTable semantics,
ClickstreamJoinExample.scala:222-234); the batch/warehouse twin of that
is the temporal dimension: every historical version of the row is kept
with a validity interval, and facts join against the version that was
current AT THE FACT'S TIMESTAMP — the point-in-time (as-of) enrichment
every training-data provenance pipeline needs ("which license/robots
policy did this crawl carry when we ingested it?").

Scale notes (100 TB): the dimension build is ONE hash exchange on the
dimension key followed by per-key window functions — the change log is
dimension-sized (users, domains, licenses), orders of magnitude smaller
than the fact corpus. The point-in-time join is an equi-join on the key
with the interval predicate as a post-join filter: the fact side
shuffles once on the key (or not at all when the built dimension
broadcasts — versions-per-key is bounded, so the dim stays
broadcast-sized far longer than a raw log would). Because validity
intervals PARTITION the timeline per key (valid_to of version k =
valid_from of version k+1), each fact matches at most one version —
the join never amplifies rows. For a dimension too large to broadcast
with a skewed hot key, the same result is an as-of look-back join of
facts against the raw change log (operators.asof_join), which
bucketizes time to bound the comparison set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def scd2_from_changelog(
    updates: DataFrame,
    key: str,
    ts: str,
    attrs: list[str],
    tie: str,
    drop_unchanged: bool = True,
) -> DataFrame:
    """Fold a change log into SCD2 validity intervals.

    One output row per retained version of ``key``: the ``attrs``
    columns plus ``valid_from`` (the update's timestamp), ``valid_to``
    (the NEXT retained update's timestamp, NULL for the current
    version), ``version`` (1-based per key, in time order) and
    ``is_current``. ``tie`` must make (key, ts, tie) unique — same-
    timestamp updates are ordered by it, so the fold is deterministic.

    With ``drop_unchanged`` (the standard SCD2 compaction), an update
    whose ``attrs`` all equal the previous update's is dropped BEFORE
    intervals are cut, so consecutive identical versions merge into one
    longer interval. Both windows below share one partitioning (and the
    filter preserves sort order), so the whole build is a single
    exchange + sort per key.
    """
    w = Window.partitionBy(key).orderBy(ts, tie)
    out = updates.select(key, ts, tie, *attrs)
    if drop_unchanged:
        prev = F.lag(F.struct(*attrs)).over(w)
        out = (
            out.withColumn("__prev", prev)
            .filter(~F.col("__prev").eqNullSafe(F.struct(*attrs)))
            .drop("__prev")
        )
    # ``tie`` is RETAINED in the output: scd2_apply_delta reconstructs
    # the retained change log from the dimension rows, and same-
    # timestamp ordering must survive the round trip.
    return (
        out.withColumn("valid_from", F.col(ts))
        .withColumn("valid_to", F.lead(ts).over(w))
        .withColumn("version", F.row_number().over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts)
    )


def scd2_apply_delta(
    dim: DataFrame,
    delta: DataFrame,
    key: str,
    ts: str,
    attrs: list[str],
    tie: str,
    drop_unchanged: bool = True,
) -> DataFrame:
    """Delta-proportional SCD2 maintenance: fold a new batch of
    change-log rows into an existing dimension WITHOUT re-reading the
    full history. Keys absent from the delta pass through untouched
    (an anti join on the delta's key set); only touched keys are
    recut, from their retained dimension rows plus the delta — so the
    window work is delta-keys-sized, the same yesterday's-index
    discipline as the persistent dedup/ANN index appends.

    Exactness contract: delta updates must not predate a touched
    key's last retained ``valid_from`` (the warehouse append-only
    convention). Under it, the result is BITWISE the rebuild from the
    concatenated full change log — compaction transitions depend only
    on retained values, so replaying retained rows + in-order delta
    reproduces them. A late (out-of-order) update CAN land between two
    historical versions and still recut correctly unless it collides
    with an update the original compaction dropped — information a
    compacted dimension no longer holds; route genuinely late data
    through a full rebuild.
    """
    touched = delta.select(key).distinct()
    untouched = dim.join(touched, key, "left_anti")
    replay = dim.join(touched, key, "semi").select(
        F.col(key), F.col("valid_from").alias(ts), F.col(tie), *attrs
    )
    recut = scd2_from_changelog(
        replay.unionByName(delta.select(key, ts, tie, *attrs)),
        key, ts, attrs, tie, drop_unchanged,
    )
    return untouched.unionByName(recut)


def scd2_fold(key: str, ts: str, attrs: list[str], tie: str):
    """Snapshot-store fold (``streaming.sinks.snapshot_sink``) keeping a
    PERSISTENT SCD2 dimension from a streaming change log — the
    KTable-materialization twin: each micro-batch folds in via
    ``scd2_apply_delta`` (delta-proportional; untouched keys pass
    through). SCD2 mutates history (the previously-current row's
    ``valid_to`` closes), so the dimension lives in a versioned
    snapshot store rather than partition appends. The dimension is
    keys×versions-sized (the broadcast side of every downstream
    point-in-time join), so rewriting it per batch is the standard
    warehouse MERGE cost, not a corpus rewrite.
    """

    def fold(batch_df: DataFrame, cur: DataFrame | None) -> DataFrame:
        delta = batch_df.select(key, ts, tie, *attrs)
        if cur is None:
            return scd2_from_changelog(delta, key, ts, attrs, tie)
        return scd2_apply_delta(cur, delta, key, ts, attrs, tie)

    return fold


def scd2_point_in_time_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str = "ts",
    broadcast_dim: bool = True,
    how: str = "left",
) -> DataFrame:
    """Enrich ``facts`` with the dimension version current at each
    fact's timestamp: ``valid_from <= fact_ts < valid_to`` (half-open,
    so a fact landing exactly on a version boundary takes the NEW
    version — the convention warehouse temporal joins use). Facts
    earlier than the key's first version get NULL attributes under
    ``how="left"``.

    ``broadcast_dim`` pins the broadcast-hash plan (the built dimension
    is versions-per-key × keys — small); set False to let AQE decide
    for a genuinely large dimension.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    l, r = facts.alias("l"), d.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"l.{fact_ts}") >= F.col("r.valid_from"))
        & (
            F.col("r.valid_to").isNull()
            | (F.col(f"l.{fact_ts}") < F.col("r.valid_to"))
        )
    )
    payload = [c for c in dim.columns if c != key]
    return l.join(r, cond, how).select(
        *[F.col(f"l.{c}") for c in facts.columns],
        *[F.col(f"r.{c}").alias(c) for c in payload],
    )


def changelog_from_snapshots(
    old: DataFrame,
    new: DataFrame,
    key: str,
    attrs: list[str],
    ts,
) -> DataFrame:
    """Derive the day-2 change-log batch from two FULL snapshots —
    most upstream sources deliver snapshots, not changelogs, and this
    is the bridge into ``scd2_apply_delta``: keys whose attrs changed
    (or appeared) emit one update stamped ``ts``. The comparison is
    the snapshot-diff shape (operators.diffs): both sides reduce to
    (key, attrs) before the join, the unchanged majority drops, and
    the emitted batch is delta-sized. Deletions are out of SCD2's
    vocabulary (a vanished key keeps its last version open) — handle
    tombstones upstream if the source hard-deletes.

    Output columns: key, ``ts`` (the snapshot's effective timestamp),
    ``tie`` (constant 0 — one update per key per snapshot, so the
    tie-break never fires), and ``attrs``.
    """
    o = old.select(key, *attrs).alias("o")
    n = new.select(key, *attrs).alias("n")
    # a NEW key's left join yields all-NULL old attrs, which fails the
    # null-safe equality against any non-null new attrs — so appeared
    # keys emit without a separate branch
    changed = n.join(o, on=key, how="left").filter(
        ~F.struct(*[F.col(f"o.{a}") for a in attrs]).eqNullSafe(
            F.struct(*[F.col(f"n.{a}") for a in attrs])
        )
    )
    return changed.select(
        F.col(key),
        F.lit(ts).cast("timestamp").alias("ts"),
        F.lit(0).cast("long").alias("tie"),
        *[F.col(f"n.{a}").alias(a) for a in attrs],
    )


def scd2_as_of(dim: DataFrame, ts) -> DataFrame:
    """Time-travel snapshot: the version of every key current AT
    ``ts`` (half-open intervals, same boundary rule as the
    point-in-time join) — one map-side filter over the dimension, the
    "what did the table look like last Tuesday" view. Keys whose first
    version postdates ``ts`` are absent."""
    t = F.lit(ts).cast("timestamp")
    return dim.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def scd2_dim_stats(
    dim: DataFrame, attrs: list[str], grain_cols: list[str] | None = None
) -> DataFrame:
    """Version-census of a built dimension at the ``attrs`` grain:
    version count, current-row count, and the total CLOSED validity
    duration in MICROSECONDS (open intervals contribute 0 — a pure
    BIGINT sum with no division anywhere, so it is exact and
    engine-independent; no wall-clock 'now' is involved, so the census
    is reproducible)."""
    grain = grain_cols if grain_cols is not None else attrs
    dur_us = F.when(
        F.col("valid_to").isNotNull(),
        F.unix_micros(F.col("valid_to"))
        - F.unix_micros(F.col("valid_from")),
    ).otherwise(F.lit(0).cast("long"))
    return dim.groupBy(*grain).agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("is_current").cast("long")).alias("n_current"),
        F.sum(dur_us).alias("dur_us_closed"),
    )
