#!/usr/bin/env python
"""Benchmark harness: runs the declared query surface at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed end-to-end through a noop sink (full compute, no
driver collect). One tiny warmup query first so JVM/codegen startup
isn't billed to the first query.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from example_kafkastreams_spark import obs  # noqa: E402
from example_kafkastreams_spark.queries import QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_from_dir(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


# A merged slot's wall is the SUM of its branches, so a baseline
# recorded before a branch landed under-counts the slot and the gate
# false-alarms on the merge commit itself (q47 read 2.81x "slower" the
# round its delta/deltaidx branches landed). Baselines for these slots
# are only taken from artifacts of the round the branch set last
# changed, or later; per-branch drift inside them is attributed by
# ``branch_timings``.
_MERGED_SINCE = {
    "q20_sessionize": 11,         # +trans/+funnel (r11)
    "q30_pivot_event_types": 11,  # +cohort retention (r11)
    "q11_pricing_summary": 10,    # +mv incremental maintenance (r10)
    "q19_window_topn_per_user": 10,  # +topk two-phase combiner (r10)
    "q26_interval_join_symmetric": 10,  # +dim/+enrich (r9), +asof/+chlog (r10)
    "q40_dedup_exact_text": 10,   # +diff_* (r9), +xsrc overlap (r10)
    "q45_knn_bruteforce": 11,     # +mrl (r9), +pca shipped basis (r11)
    "q65_lm_score": 11,           # +clf (r9), +calib (r11)
    "q41_dedup_minhash_lsh": 10,  # +incr (r6), +eval (r10)
    "q44_dedup_ngram_jaccard": 10,  # +contain (r10)
    "q46_ann_lsh_ivf": 10,        # +ivfflat_idx (r9), +ivf_tr (r10)
    "q47_embedding_neardup": 10,  # +delta/+deltaidx (r8), +prune (r10)
    "q34_hash_sample": 10,        # +wsample (r9), +prio (r10)
    "q56_quantize_embeddings": 10,  # +adc (r8), +pq_tr (r10)
    "q57_neardup_components": 11,  # +gsplit/+pr (r11)
    "q58_srp_histogram": 11,      # +qdig/+qdig_q/+ams, shared-scan persists (r11)
    "q48_doc_profile": 10,        # +cols table profiler (r10)
    "q50_token_stats": 10,        # +bpe (r9), +dupgram (r10)
    "q54_chunk_documents": 11,    # +masks (r10), +lbatch (r11)
    "q55_tfidf_top_term": 11,     # +maxsim family (r10), +mmr (r11)
    "q59_dedup_edit_distance": 11,  # +er2/+gold survivorship (r11)
    "q61_domain_mixing": 11,      # +drift (r10), +dsir (r11)
    "q62_pii_scrub": 10,          # +norm (r9), +ccn Luhn (r10)
    "q63_corpus_funnel": 6,       # +delta (r6)
    "q64_decontaminate": 9,       # +bloom (r9)
}


def host_canary() -> float:
    """Fixed pure-Python work, timed (best of two): a portable proxy
    for single-thread host speed. Recorded into every bench artifact
    so the wall-regression gate can tell "this host window is slower"
    from "this query got slower" — round 8 measured the SAME code at
    71.5 s and 119.6 s total across host windows, with per-query
    spreads like q65 at 1.6 s / 13.6 s / 1.8 s."""

    def loop():
        s = 0
        for i in range(10_000_000):
            s += i

    return obs.measure(None, loop, runs=2).sec


def load_baselines() -> tuple[dict, dict, dict, dict, dict]:
    """Earliest committed per-query baselines for the regression gate
    (VERDICT r6 item 5): wall seconds and shuffle-write records, each
    taken from the FIRST committed artifact that recorded the query —
    the driver-recorded ``BENCH_r{N}.json`` files (r01 earliest), then
    the clean self-runs ``BENCH_SELF_r{N}.json`` (the only source of
    shuffle baselines) — skipping artifacts older than a merged slot's
    last branch change. Returns (wall, shuffle_records, source_tag,
    source_canary, source_queries) — source_canary maps each artifact
    tag to the host canary it recorded (None for pre-canary
    artifacts); source_queries maps each tag to its full per-query
    wall map, the denominator the share-normalized wall gate needs."""
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(repo, "BENCH_r[0-9]*.json")))
    files += sorted(
        glob.glob(os.path.join(repo, "BENCH_SELF_r[0-9]*.json"))
    )

    def _valid(key: str, path: str) -> bool:
        since = _MERGED_SINCE.get(key)
        if since is None:
            return True
        m = re.search(r"_r(\d+)\.json$", path)
        return bool(m) and int(m.group(1)) >= since

    wall: dict = {}
    shuf: dict = {}
    src: dict = {}
    canaries: dict = {}
    parsed: list[tuple[str, str, dict]] = []
    for path in files:
        try:
            with open(path) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        tag = os.path.basename(path)
        # driver records wrap the bench line under "parsed" — which is
        # null when a round's bench crashed; fall back to the raw dict
        body = d.get("parsed") if isinstance(d.get("parsed"), dict) else d
        hc = body.get("host_canary")
        canaries[tag] = hc.get("loop_sec") if isinstance(hc, dict) else None
        parsed.append((path, tag, body))
    tag_queries = {
        tag: {
            k: float(v)
            for k, v in (body.get("queries") or {}).items()
            if isinstance(v, (int, float))
        }
        for _, tag, body in parsed
    }
    # Two passes (VERDICT r8 item 2): WALL floors come from the
    # earliest CANARY-BEARING artifact, so the host-normalization gate
    # always has a baseline-side canary to compare against — a
    # pre-canary floor (r01–r07) can neither confirm nor clear a wall
    # flag (the q03/q27 limbo). Pre-canary artifacts are the fallback
    # only for queries no canary-bearing run ever recorded. Shuffle
    # floors stay earliest-artifact: records are deterministic, so the
    # oldest floor is strictly the strongest regression signal.
    for canary_only in (True, False):
        for path, tag, body in parsed:
            if canary_only and canaries[tag] is None:
                continue
            for k, v in (body.get("queries") or {}).items():
                if (
                    isinstance(v, (int, float))
                    and k not in wall
                    and _valid(k, path)
                ):
                    wall[k] = float(v)
                    src[k] = tag
    for path, tag, body in parsed:
        for k, v in (body.get("query_shuffle") or {}).items():
            rec = (
                v.get("shuffle_write_records")
                if isinstance(v, dict)
                else None
            )
            if isinstance(rec, int) and k not in shuf and _valid(k, path):
                shuf[k] = rec
    return wall, shuf, src, canaries, tag_queries


# sample_fraction 0.2 here (default 0.02): the probe's absolute
# sample must hold a statistically visible number of hot-key rows,
# and sandbox tables are 4-6 orders of magnitude under production —
# 2% of sf0.01's events is ~200 rows, where a 10%-share key sits at
# the min_sampled_rows floor and detection becomes a coin flip. At
# 100 TB the default 2% samples billions of rows; the fraction is a
# caller knob precisely because it should scale inversely with data.
PROBE_FRACTION = 0.2


def skew_rows(spark) -> dict[str, dict]:
    """The skewed_* plan_compare rows. ``spark`` must keep every task
    row of a stage in its status store (``obs.task_skew`` reads None
    from a trimmed one), so the bench runs these last, in a session of
    their own: the timed slots keep the stage-grain store.

    Skew survival (VERDICT r3 item 5): machinery (q37) is not
    evidence — this measures the straggler being FLATTENED. One
    synthetic hot user owns ~10% of events; the same fact⋈agg
    equi-join runs three ways and each row records per-task
    max/median shuffle-read for its heaviest join stage:
      * skewed_plain_noaqe — static plan: the hot key's whole volume
        lands on one task (max >> median = the 100x-scale killer);
      * skewed_plain_aqe_skewjoin — AQE splits the oversized
        partition at runtime (thresholds scaled to sandbox data
        volume; at 100 TB the defaults fire on real sizes);
      * skewed_salted — planner-independent 16-way salt
        (operators.salted), the explicit form that also works where
        AQE can't reach (bucketed inputs, agg-then-join).
    Broadcast stays off, as in plan_compare: at 100 TB neither side
    broadcasts.
    """
    from pyspark.sql import functions as F

    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.salted import (
        detect_hot_keys,
        salted_equijoin,
        salted_equijoin_auto,
    )

    events = load_table(spark, SF_DIR, "events")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # The upstream repartition(32) stands in for the multi-file scan a
    # real 100 TB table has: AQE splits a skewed reduce partition at MAP
    # OUTPUT granularity, so a single-mapper upstream (this sandbox's
    # one-file parquet scan) makes every reduce partition one indivisible
    # block and the splitter can never fire. The dim side is a plain
    # projection, NOT an aggregate: OptimizeSkewedJoin pattern-matches
    # shuffle stages directly under the join's sorts, so an agg-then-join
    # defeats it — which is exactly the regime where explicit salting
    # remains the only fix (operators/salted.py docstring).
    skewed = (
        events.select("event_id", "user_id", "event_type")
        .repartition(32)
        .withColumn(
            "user_id",
            F.when(
                F.pmod(F.hash("event_id"), F.lit(10)) == 0, F.lit(-1)
            ).otherwise(F.col("user_id")),
        )
    )
    skew_dim = events.select(
        F.col("user_id").alias("dim_user_id"), F.col("value").alias("dim_value")
    ).filter(F.col("event_id") % 100 == 0)

    def skew_plain(src):
        return src.join(skew_dim, src.user_id == skew_dim.dim_user_id)

    def skew_salted(src):
        return salted_equijoin(
            src, skew_dim, fact_key="user_id", dim_key="dim_user_id",
            salt_source="event_id", salts=16,
        )

    skew_confs = {  # sandbox-scale AQE skew thresholds (defaults are
        # 256 MB partitions — sized for clusters, not a 100k-row demo)
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        # without these two, coalescing targets default-parallelism /
        # 1 MB floors and folds the whole demo into one task before the
        # skew splitter ever sees a partition
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k",
    }
    # The agg-then-join regime: the dim side is an AGGREGATE of the
    # skewed fact (per-user totals joined back). OptimizeSkewedJoin
    # pattern-matches plain shuffle stages directly under the join's
    # sorts, so the aggregate child defeats it — even with AQE on and
    # thresholds met, the straggler SURVIVES (the _aqe row proves the
    # gap: same max/median as static). Explicit salting is the only
    # remedy here (salted.py's stated purpose), and the _salted row
    # shows it flattening the same join AQE could not.
    def skew_aggjoin(src):
        agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_total"))
        return src.join(agg, "user_id")

    def skew_aggjoin_salted(src):
        agg = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("user_total"))
            .withColumnRenamed("user_id", "dim_user_id")
        )
        return salted_equijoin(
            src, agg, fact_key="user_id", dim_key="dim_user_id",
            salt_source="event_id", salts=16,
        )

    # Self-deciding remedy (VERDICT r4 item 2): the probe detects the
    # hot key itself and salts ONLY it — same agg-then-join regime AQE
    # cannot split. The probe job runs inside the timed call (its cost
    # is part of the honest wall time).
    def skew_aggjoin_autosalted(src):
        agg = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("user_total"))
            .withColumnRenamed("user_id", "dim_user_id")
        )
        return salted_equijoin_auto(
            src, agg, fact_key="user_id", dim_key="dim_user_id",
            salt_source="event_id", salts=16,
            sample_fraction=PROBE_FRACTION,
        )

    rows: dict[str, dict] = {}
    for label, fn, aqe in (
        ("skewed_plain_noaqe", skew_plain, False),
        ("skewed_plain_aqe_skewjoin", skew_plain, True),
        ("skewed_salted", skew_salted, False),
        ("skewed_aggjoin_aqe", skew_aggjoin, True),
        ("skewed_aggjoin_salted", skew_aggjoin_salted, False),
        ("skewed_aggjoin_autosalted", skew_aggjoin_autosalted, False),
    ):
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        if aqe:
            for k, v in skew_confs.items():
                spark.conf.set(k, v)
        seen = obs.stage_keys(spark)
        sec = obs.measure(
            None, lambda: obs.run_noop(fn(skewed)), runs=2
        ).sec
        rows[label] = {"sec": sec, **(obs.skew_since(spark, seen) or {})}
        if aqe:
            for k in skew_confs:
                spark.conf.unset(k)
    probe = obs.measure(
        None,
        lambda: detect_hot_keys(
            skewed, "user_id", sample_fraction=PROBE_FRACTION
        ),
    )
    rows["skewed_aggjoin_autosalted"]["probe_sec"] = probe.sec
    rows["skewed_aggjoin_autosalted"]["hot_keys_detected"] = len(probe.value)
    return rows


def main() -> None:
    # UI on: every counter comes from the status store (obs)
    spark = obs.measuring_session("bench", SF_DIR)

    from pyspark.sql import functions as _F

    from example_kafkastreams_spark.operators.cache import (
        release_build_memos,
        release_sketch_caches,
    )

    # Per-branch wall inside the merged slots (VERDICT r6 item 6):
    # filtering on the union discriminator folds every other branch's
    # lit(mode) predicate to false, so Catalyst prunes those union
    # children and each timing runs ONLY that branch's sub-plan —
    # attributing the slot's wall without restructuring the registry.
    branches: dict[str, tuple] = {}
    branch_timings: dict[str, dict] = {}
    for qname, disc, modes in (
        ("q11_pricing_summary", "mode", ("full", "mv")),
        ("q19_window_topn_per_user", "mode", ("window", "topk")),
        ("q26_interval_join_symmetric", "mode",
         ("pairs", "dim", "enrich", "delta", "asof", "chlog", "near")),
        ("q34_hash_sample", "method",
         ("hash", "strat", "wsample", "prio", "gprio")),
        ("q40_dedup_exact_text", "mode",
         ("full", "incr", "diff_changed", "diff_unchanged", "xsrc")),
        ("q20_sessionize", "mode", ("sess", "trans", "funnel")),
        ("q30_pivot_event_types", "mode", ("pivot", "cohort")),
        ("q41_dedup_minhash_lsh", "mode", ("pairs", "incr", "eval")),
        ("q44_dedup_ngram_jaccard", "mode", ("jac", "contain")),
        ("q45_knn_bruteforce", "method", ("brute", "mrl", "pca")),
        (
            "q46_ann_lsh_ivf",
            "method",
            ("lsh", "ivf", "lsh_mp", "ivfflat_mp", "ivfflat_idx", "ivf_tr"),
        ),
        ("q47_embedding_neardup", "mode",
         ("pair", "sem", "delta", "deltaidx", "prune")),
        ("q48_doc_profile", "mode", ("doc", "cols")),
        ("q50_token_stats", "mode", ("stats", "bpe", "dupgram")),
        ("q54_chunk_documents", "mode",
         ("chunk", "dedup", "substr", "rebuilt", "shard", "masks",
          "packmask", "lbatch")),
        (
            "q55_tfidf_top_term",
            "mode",
            ("tfidf", "bm25", "bm25idx", "rrf", "eval", "maxsim",
             "maxsimidx", "rerank", "mmr"),
        ),
        ("q56_quantize_embeddings", "mode",
         ("int8", "pq", "ivfpq", "adc", "pq_tr")),
        ("q57_neardup_components", "mode",
         ("comp", "leak", "mine_pos", "mine_neg", "mine_hard", "inc",
          "bfs", "gsplit", "pr")),
        (
            "q58_srp_histogram",
            "mode",
            ("srp", "kmv", "kmvops", "cms", "hll", "hll_est",
             "hll_grp", "hll_grp_est", "hist", "hist_grp", "qdig",
             "qdig_q", "ams"),
        ),
        ("q59_dedup_edit_distance", "mode", ("edit", "er", "er2", "gold")),
        ("q61_domain_mixing", "mode",
         ("mix", "card", "temp", "budget", "drift", "dsir")),
        ("q62_pii_scrub", "mode", ("pii", "norm", "ccn")),
        ("q63_corpus_funnel", "mode", ("full", "delta")),
        ("q64_decontaminate", "mode", ("exact", "fuzzy", "bloom")),
        ("q65_lm_score", "mode", ("lm", "clf", "calib")),
    ):
        branches[qname] = (disc, modes)

    # Per-query shuffle volume (records/bytes written) alongside wall
    # time: wall time on a busy local box swings up to 5x, shuffle
    # volume is deterministic — round-over-round comparisons argue with
    # the metric that doesn't lie. A query that caches a sketch stage
    # (minhash/LSH bucket tables) is billed the cache-build shuffle on
    # its own row, which is exactly where the cost belongs.
    canary_start = host_canary()
    timings: dict[str, float] = {}
    shuffles: dict[str, dict] = {}
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        main_row = obs.measure(spark, lambda: obs.run_noop(fn(spark, SF_DIR)))
        timings[name] = main_row.sec
        # each query's row is billed its own sketch-cache build; release
        # between queries so 50 runs in one session don't accumulate
        # cached stages (ADVICE r2)
        release_sketch_caches()
        if main_row.counters is not None:
            shuffles[name] = {k: main_row.counters[k] for k in obs.SHUFFLE}
        if name in branches:
            disc, modes = branches[name]
            rows: dict[str, float] = {}
            for m in modes:
                rows[m] = obs.measure(
                    None,
                    lambda: obs.run_noop(
                        fn(spark, SF_DIR).filter(_F.col(disc) == m)
                    ),
                ).sec
                release_sketch_caches()
            branch_timings[name] = rows
        # the slot's memoized build retires with it: owned frames from
        # 50 slots would otherwise pile up and GC-throttle the tail
        release_build_memos()

    # Translated 10x claim (BASELINE.md): the declarative co-partitioned
    # flagship plan vs the reference-DSL-style re-keyed plan with its
    # forced exchanges. Extra field; not part of the headline total.
    from example_kafkastreams_spark.catalog import load_table
    from example_kafkastreams_spark.operators.enrich import (
        enrich_clickstream,
        enrich_clickstream_naive,
    )

    from example_kafkastreams_spark.plans.checks import count_exchanges

    events = load_table(spark, SF_DIR, "events")
    compare: dict[str, dict] = {}

    # Bucketed events table (full column set): feeds BOTH the
    # flagship_bucketed row (the reference's persistent
    # zero-repartition-topic topology: every downstream join/agg in the
    # flagship keys on user_id, so bucket metadata alone satisfies all
    # their distributions) and the minimal fact⋈agg pair below. The
    # session catalog is in-memory: a previous run's table survives only
    # as an orphaned warehouse directory, which saveAsTable refuses to
    # overwrite — drop both forms.
    import shutil

    from pyspark.sql import functions as F

    from example_kafkastreams_spark.sources.bucketed import write_bucketed

    spark.sql("DROP TABLE IF EXISTS bench_events_bucketed")
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    if wh:
        shutil.rmtree(
            os.path.join(wh, "bench_events_bucketed"), ignore_errors=True
        )
    write_bucketed(
        events,
        "bench_events_bucketed",
        bucket_cols=["user_id"],
        num_buckets=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    events_bucketed = spark.table("bench_events_bucketed")

    # The 10x claim is about eliminating repartition topics around a
    # DISTRIBUTED join (README.md:12). At bench scale the pv side fits
    # under the broadcast threshold, which removes the join shuffle from
    # BOTH variants and measures nothing — at 100 TB neither side
    # broadcasts. Pin the comparison to the shuffle-join regime.
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    # The flagship's interval join keys on (user_id, __bucket); the
    # bucketed table is hash-partitioned on user_id alone. Subset
    # co-partitioning is sound here (same user_id ⇒ same bucket on both
    # sides) but off by default since 3.3 — allow it for the compare.
    # Caveat at 100 TB: partitioning on the subset key concentrates a
    # hot user's whole history in one task; the salted-join operator
    # (q37) is the escape hatch when that key is genuinely skewed.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    for label, fn, src in (
        ("naive_rekeyed", enrich_clickstream_naive, events),
        ("flagship_copartitioned", enrich_clickstream, events),
        ("flagship_bucketed", enrich_clickstream, events_bucketed),
    ):
        # min of 3: local wall time is noisy; the shuffle volume is not
        compare[label] = obs.measure(
            spark, lambda: obs.run_noop(fn(src)), runs=3
        ).row(obs.SHUFFLE, exchanges=count_exchanges(fn(src)))

    # J3 persistent co-partitioning, minimal pair: the same fact⋈agg
    # join once over the bucketed table (bucket metadata co-locates
    # both sides ⇒ the scan delivers the partitioning) and once over
    # plain parquet (both sides shuffle). Same shuffle-join regime.
    def fact_agg_join(src):
        agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        return src.join(agg, "user_id")

    for label, src in (
        ("plain_parquet_join", events.select("event_id", "user_id", "event_type", "value")),
        ("bucketed_join", events_bucketed.select("event_id", "user_id", "event_type", "value")),
    ):
        compare[label] = obs.measure(
            spark, lambda: obs.run_noop(fact_agg_join(src)), runs=3
        ).row(obs.SHUFFLE, exchanges=count_exchanges(fact_agg_join(src)))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")

    # Time-partitioned layout: the scan-side twin of the bucketed-join
    # rows above. A 100 TB events table lives partitioned by date; a
    # one-day query must read one partition, not rely on a post-scan
    # filter. Both variants run the same one-day aggregate — over plain
    # parquet (pushed ts-range predicate; row-group stats may help, the
    # whole file is still listed and its row groups considered) and over
    # a date-partitioned copy (PartitionFilters prune 29/30 days before
    # a single byte is read). inputRecords is the honest metric: it
    # counts rows actually delivered by the scan.
    import tempfile

    part_path = os.path.join(tempfile.gettempdir(), "bench_events_daypart")
    shutil.rmtree(part_path, ignore_errors=True)
    events.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(part_path)
    events_daypart = spark.read.parquet(part_path)
    day = events.agg(F.to_date(F.max("ts")).alias("d")).first()["d"]

    def one_day_plain(src):
        lo = F.lit(str(day)).cast("timestamp")
        hi = F.date_add(F.lit(str(day)).cast("timestamp"), 1)
        return (
            src.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def one_day_pruned(src):
        return (
            src.filter(F.col("event_date") == F.lit(str(day)))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    for label, fn, src in (
        ("plain_time_filter", one_day_plain, events),
        ("daypartitioned_time_filter", one_day_pruned, events_daypart),
    ):
        compare[label] = obs.measure(
            spark, lambda: obs.run_noop(fn(src)), runs=3
        ).row(obs.INPUT)
    shutil.rmtree(part_path, ignore_errors=True)

    # Runtime bloom-filter join pruning: a selective dim filter on a
    # non-broadcast join lets Catalyst build a bloom filter on the dim
    # side and probe it on the fact side BELOW the join exchange
    # (InjectRuntimeFilter) — at 100 TB this is the difference between
    # shuffling the whole fact table and shuffling only rows that can
    # match. Size-gated off by default at local scale (10 GiB
    # application-side threshold); the compare lowers the gate and
    # records the fact-side shuffle cut on the same join.
    from example_kafkastreams_spark.plans.checks import (
        runtime_bloom_filters,
    )

    _bloom_gate_key = (
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold"
    )
    old_bloom_gate = spark.conf.get(_bloom_gate_key)
    li_fact = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part_dim = (
        load_table(spark, SF_DIR, "part")
        .filter(F.col("p_type").startswith("PROMO"))
        .select("p_partkey", "p_type")
    )

    def bloom_join():
        return li_fact.join(
            part_dim, li_fact.l_partkey == part_dim.p_partkey
        )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
    )
    for label, gate in (
        ("join_without_bloom", None),
        ("join_with_runtime_bloom", "0"),
    ):
        if gate is not None:
            spark.conf.set(_bloom_gate_key, gate)
        compare[label] = obs.measure(
            spark, lambda: obs.run_noop(bloom_join()), runs=3
        ).row(obs.SHUFFLE, bloom_filters=runtime_bloom_filters(bloom_join()))
    spark.conf.set(_bloom_gate_key, old_bloom_gate)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    # Multi-dimensional clustering (Z-order): date partitioning prunes
    # ONE dimension; a 2-D box query (part AND supplier range) over a
    # 100 TB lineitem needs the LAYOUT to cluster both. Three copies of
    # lineitem, same small row groups, same box query; input_records is
    # again the honest metric (parquet row-group min/max stats skip
    # groups the box cannot intersect):
    #   * unsorted      — natural order: every row group straddles the
    #     box in both dims, nothing skips;
    #   * sorted_1d     — sorted by l_partkey: perfect pruning on the
    #     part range, none on the supplier range within it;
    #   * zorder        — sorted by the Morton interleave of both key's
    #     bits: row groups are 2-D tiles, so groups outside EITHER
    #     range skip. The interleave is a pure column expression
    #     (shiftright/&/shiftleft folds) — computed once at write time,
    #     the layout is just a sort order.
    from example_kafkastreams_spark.sources.zorder import zorder_sorted

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    stats = li.agg(
        F.expr("approx_percentile(l_partkey, array(0.4, 0.6))").alias("p"),
        F.expr("approx_percentile(l_suppkey, array(0.4, 0.6))").alias("s"),
    ).first()
    (p_lo, p_hi), (s_lo, s_hi) = stats["p"], stats["s"]

    def box(src):
        return (
            src.filter(
                (F.col("l_partkey") >= p_lo) & (F.col("l_partkey") <= p_hi)
                & (F.col("l_suppkey") >= s_lo) & (F.col("l_suppkey") <= s_hi)
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("l_quantity").alias("q"),
            )
        )

    z_rows: dict[str, dict] = {}
    for label, writer in (
        ("unsorted", lambda d: d),
        ("sorted_1d", lambda d: d.repartitionByRange(16, "l_partkey")
            .sortWithinPartitions("l_partkey")),
        ("zorder", lambda d: zorder_sorted(
            d, ["l_partkey", "l_suppkey"], bits=16, partitions=16)),
    ):
        path = os.path.join(
            tempfile.gettempdir(), f"bench_li_{label}"
        )
        shutil.rmtree(path, ignore_errors=True)
        (
            writer(li).write
            .option("parquet.block.size", 128 * 1024)
            .mode("overwrite").parquet(path)
        )
        src = spark.read.parquet(path)
        z_rows[label] = obs.measure(
            spark, lambda: obs.run_noop(box(src)), runs=3
        ).row(obs.INPUT)
        shutil.rmtree(path, ignore_errors=True)
    compare["zorder_box_query"] = z_rows

    # Auto-salting on an UNSKEWED join (the skewed half of this compare
    # is ``skew_rows``, run last in its own session): the probe finds
    # nothing and the auto path IS the plain join — same exchange count,
    # overhead = one sampled probe aggregate. Both rows time the
    # identical fact⋈agg over the natural user_id distribution, with
    # broadcast off as in plan_compare: at 100 TB neither side
    # broadcasts.
    from example_kafkastreams_spark.operators.salted import (
        detect_hot_keys,
        salted_equijoin_auto,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    aqe_prior = spark.conf.get("spark.sql.adaptive.enabled")
    unskewed = events.select("event_id", "user_id", "event_type").repartition(32)

    def unskew_plain(src):
        agg = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("user_total"))
            .withColumnRenamed("user_id", "dim_user_id")
        )
        return src.join(agg, src.user_id == agg.dim_user_id)

    def unskew_auto(src):
        agg = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("user_total"))
            .withColumnRenamed("user_id", "dim_user_id")
        )
        return salted_equijoin_auto(
            src, agg, fact_key="user_id", dim_key="dim_user_id",
            salt_source="event_id", salts=16,
            sample_fraction=PROBE_FRACTION,
        )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for label, fn in (
        ("unskewed_aggjoin_plain", unskew_plain),
        ("unskewed_aggjoin_autosalt", unskew_auto),
    ):
        compare[label] = obs.measure(
            None, lambda: obs.run_noop(fn(unskewed)), runs=3
        ).row(exchanges=count_exchanges(fn(unskewed)))
    probe = obs.measure(
        None,
        lambda: detect_hot_keys(
            unskewed, "user_id", sample_fraction=PROBE_FRACTION
        ),
    )
    unskew_hot = probe.value
    compare["unskewed_aggjoin_autosalt"]["probe_sec"] = probe.sec
    compare["unskewed_aggjoin_autosalt"]["hot_keys_detected"] = len(unskew_hot)

    # Amortized probe (VERDICT r5 item 5): with a CACHED detection
    # (here the empty list the probe just produced) the auto path pays
    # nothing — wall time ≈ plain, because it IS the plain join.
    def unskew_auto_cached(src):
        agg = (
            src.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("user_total"))
            .withColumnRenamed("user_id", "dim_user_id")
        )
        return salted_equijoin_auto(
            src, agg, fact_key="user_id", dim_key="dim_user_id",
            salt_source="event_id", salts=16, hot_keys=unskew_hot,
        )

    compare["unskewed_aggjoin_autosalt_cached"] = obs.measure(
        None, lambda: obs.run_noop(unskew_auto_cached(unskewed)), runs=3
    ).row(
        exchanges=count_exchanges(unskew_auto_cached(unskewed)),
        hot_keys_cached=len(unskew_hot),
    )
    spark.conf.set("spark.sql.adaptive.enabled", aqe_prior)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)

    # Canonical-packing fill cost (VERDICT r4 item 4): the claim that
    # canonical (per-document) packing forfeits only a few percent of
    # fill vs the max-fill greedy mode was asserted, never measured.
    # fill_rate = sum(n_tokens) / (packs × budget) over the bench
    # corpus chunk table, both modes, same budget as q63.
    from example_kafkastreams_spark.operators.packing import pack_chunks
    from example_kafkastreams_spark.operators.text_chunks import (
        chunk_documents,
    )

    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, chunk_size=32, stride=24).persist()
    budget = 96
    fill: dict = {"budget": budget}
    for mode, kw in (
        ("greedy", {}),
        ("canonical", {"canonical": True}),
        # the hybrid added when canonical's measured loss blew past the
        # few-percent claim on this short-document corpus (r4 item 4)
        ("canonical_grouped16", {"canonical": True, "group_docs": 16}),
    ):
        packed = obs.measure(
            None,
            lambda: pack_chunks(chunks, budget=budget, **kw)
            .agg(F.sum("n_tokens").alias("toks"), F.count(F.lit(1)).alias("n"))
            .first(),
        )
        row = packed.value
        fill[mode] = packed.row(
            n_packs=row["n"],
            fill_rate=round(row["toks"] / (row["n"] * budget), 4),
        )
    fill["canonical_fill_loss"] = round(
        fill["greedy"]["fill_rate"] - fill["canonical"]["fill_rate"], 4
    )
    fill["grouped_fill_loss"] = round(
        fill["greedy"]["fill_rate"]
        - fill["canonical_grouped16"]["fill_rate"],
        4,
    )
    chunks.unpersist()
    compare["packing_fill"] = fill

    # Per-stage funnel metrics (VERDICT r4 item 6): q63's one bench row
    # hides which stage moved. Evaluate the funnel stage by stage in
    # funnel order; each row records its INCREMENTAL wall + shuffle
    # (persisted fan-out stages bill their build to the first stage
    # that evaluates them — where the cost belongs).
    from example_kafkastreams_spark.pipelines import corpus_stages

    stages = corpus_stages(docs, pack_budget=96)
    fmetrics: dict[str, dict] = {}
    for sname, sdf in stages.items():
        counted = obs.measure(spark, sdf.count)
        fmetrics[sname] = counted.row(
            ("shuffle_write_records",), rows=counted.value
        )
    release_sketch_caches()
    compare["funnel_stages"] = fmetrics

    # Incremental ingest dedup (round 5): the per-ingest cost a
    # continuously-ingesting pipeline pays. A 10% delta deduped against
    # the persisted digest index of the other 90%
    # (neardup.incremental_exact_dedup) vs re-running batch dedup over
    # the full corpus. The index build is deliberately outside the
    # timed window — it is the PREVIOUS ingests' already-paid output.
    # Both variants shuffle digests, never text. Two incremental rows:
    # with auto-broadcast (the index broadcasts at bench scale) and
    # with broadcast DISABLED — the 100 TB regime. Measured result:
    # the shuffle-join row ALSO writes only the delta's records,
    # because the anti join co-partitions for free — the delta side
    # reuses its own dedup-agg exchange (hashpartitioning on the
    # digest) and the persisted index RETAINS the hashpartitioning of
    # the groupBy that built it. On disk, a content_hash-bucketed
    # index write preserves the same property across jobs.
    from example_kafkastreams_spark.operators.neardup import (
        exact_text_dedup,
        incremental_exact_dedup,
    )

    delta = docs.filter(F.col("doc_id") % 10 == 0)
    hist = docs.filter(F.col("doc_id") % 10 != 0)
    index = exact_text_dedup(hist).persist()
    index.count()

    inc_rows: dict[str, dict] = {}
    for label, thunk, nobcast in (
        ("full_rededup", lambda: exact_text_dedup(docs), False),
        (
            "incremental_delta",
            lambda: incremental_exact_dedup(delta, index),
            False,
        ),
        (
            "incremental_delta_shuffle_join",
            lambda: incremental_exact_dedup(delta, index),
            True,
        ),
    ):
        if nobcast:
            # conf must hold through EXECUTION (plans are lazy)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
            )
        try:
            inc_rows[label] = obs.measure(
                spark, lambda: obs.run_noop(thunk())
            ).row(obs.SHUFFLE)
        finally:
            if nobcast:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", bcast
                )
                spark.conf.unset(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold"
                )
    index.unpersist()
    compare["incremental_dedup"] = inc_rows

    # Incremental NEAR-dup (VERDICT r5 item 2): same 10% delta, this
    # time against the persisted MinHash BAND index of the other 90%
    # (neardup.minhash_band_index, read back from parquet like a real
    # prior-ingest artifact) vs one-shot minhash_components_edges over
    # the full corpus. The claim under measurement: incremental shuffle
    # is delta-proportional — the corpus never re-sketches; only its
    # band rows (id + k ints) move, and a band_key-bucketed index
    # would not even move those.
    from example_kafkastreams_spark.operators.neardup import (
        incremental_minhash_edges,
        minhash_band_index,
        minhash_components_edges,
    )

    nd_index_path = os.path.join(tempfile.gettempdir(), "bench_nd_index")
    shutil.rmtree(nd_index_path, ignore_errors=True)
    minhash_band_index(hist).write.mode("overwrite").parquet(nd_index_path)
    release_sketch_caches()
    nd_index = spark.read.parquet(nd_index_path)
    nd_rows: dict[str, dict] = {}
    for label, thunk in (
        ("one_shot_full", lambda: minhash_components_edges(docs)),
        (
            "incremental_delta",
            lambda: incremental_minhash_edges(delta, nd_index)[0],
        ),
    ):
        nd_rows[label] = obs.measure(
            spark, lambda: obs.run_noop(thunk())
        ).row(obs.SHUFFLE)
        release_sketch_caches()
    shutil.rmtree(nd_index_path, ignore_errors=True)
    nd_rows["delta_fraction"] = 0.1
    compare["incremental_neardup"] = nd_rows

    # Day-2 FUNNEL (round 6): the full quality->lang->exact->near-dup->
    # scrub->chunks pipeline for a 10% delta via corpus_stages_delta
    # against the persistent digest + band indexes, vs re-running the
    # one-shot funnel over the whole corpus. The indexes are built and
    # materialized OUTSIDE the timed window (prior ingests' paid
    # output). The deterministic claim is the SHUFFLE column (delta-
    # proportional, like incremental_neardup above); sandbox WALL time
    # is dominated by the admission path's fixed job count — the
    # eager components loop runs a few convergence rounds regardless
    # of data size — so the wall crossover sits above sandbox scale
    # (at 100 TB the one-shot side re-sketches the corpus; the delta
    # side never touches it).
    from example_kafkastreams_spark.operators.neardup import (
        simhash_band_index,
    )
    from example_kafkastreams_spark.pipelines import (
        corpus_stages,
        corpus_stages_delta,
    )

    day1 = corpus_stages(hist)
    f_digest = exact_text_dedup(day1["language"]).persist()
    f_band = simhash_band_index(day1["exact_dedup"]).persist()
    f_digest.count()
    f_band.count()
    release_sketch_caches()
    fd_rows: dict[str, dict] = {}
    for label, thunk in (
        ("one_shot_funnel", lambda: corpus_stages(docs)["chunks"]),
        (
            "delta_funnel",
            lambda: corpus_stages_delta(delta, f_digest, f_band)["chunks"],
        ),
    ):
        counted = obs.measure(spark, lambda: thunk().count())
        fd_rows[label] = counted.row(
            ("shuffle_write_records",), chunk_rows=counted.value
        )
        release_sketch_caches()
    fd_rows["delta_fraction"] = 0.1
    compare["delta_funnel"] = fd_rows

    # Per-stage attribution for the DELTA branch (VERDICT r9 item 7):
    # the delta-funnel wall above exceeds the one-shot wall at this
    # scale because fixed per-stage job overheads dominate (the
    # shuffle column is the scale signal) — record each delta stage's
    # INCREMENTAL wall + shuffle, same discipline as funnel_stages, so
    # any future optimization targets the measured mover.
    dstages = corpus_stages_delta(delta, f_digest, f_band)
    fd_stage_rows: dict[str, dict] = {}
    for sname, sdf in dstages.items():
        counted = obs.measure(spark, sdf.count)
        fd_stage_rows[sname] = counted.row(
            ("shuffle_write_records",), rows=counted.value
        )
    release_sketch_caches()
    compare["delta_funnel_stages"] = fd_stage_rows
    f_digest.unpersist()
    f_band.unpersist()

    # ANN recall/cost (VERDICT r5 item 3): recall is unit-asserted on
    # fixtures but a USER picks an index by the recall-vs-wall curve at
    # data scale. Each method scores the same num_queries against the
    # cosine ground truth of brute_force_knn; recall@10 = mean fraction
    # of true top-10 recovered. Wall time includes each method's index
    # build (bucket tables, codebooks — the cost a fresh query session
    # pays). Note the PQ family ranks by approximate L2 of raw vectors
    # while ground truth ranks by cosine — their recall ceiling depends
    # on norm spread, which is part of what the row reports.
    from example_kafkastreams_spark.operators.knn import (
        _py_cosine,
        brute_force_knn,
        ivf_ann,
        ivf_pq_ann,
        lsh_ann,
        pq_ann,
    )
    from example_kafkastreams_spark.operators.knn import (
        matryoshka_knn as _mrl,
        pca_knn as _pca,
    )

    # NQ=64 is serving-realistic since the r7 broadcast-LUT rewrite
    # made every ADC plan constant in the query count. The deterministic
    # pq/ivfpq rows keep oracle-convention parameters (m=8, 16 codes);
    # the *_trained rows are the serving recipe (sampled k-means
    # training, Arrow encode, ADC shortlist + exact refine).
    embt = load_table(spark, SF_DIR, "embeddings")
    NQ, K = 64, 10
    bf = obs.measure(
        None, lambda: brute_force_knn(embt, num_queries=NQ, k=K).collect()
    )
    truth: dict = {}
    for r in bf.value:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # L2 ground truth for the RAW-ADC PQ rows' documented regime:
    # PQ/IVF-PQ approximate EUCLIDEAN distance, so their recall
    # yardstick is the exact-L2 top-k (one broadcast join — constant
    # plan in NQ), while every cosine-ranked row scores against the
    # cosine truth above. Both recalls are reported for those rows.
    from pyspark.sql import types as T

    from example_kafkastreams_spark.functions import portable as PF
    from example_kafkastreams_spark.operators.knn import _two_phase_topk

    qrows = (
        embt.filter(F.col("vec_id") < NQ)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    qdf = spark.createDataFrame(
        [(qr[0], [float(x) for x in qr[1]]) for qr in qrows],
        T.StructType(
            [
                T.StructField("query_id", embt.schema["vec_id"].dataType),
                T.StructField("__qv", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    l2_scored = (
        embt.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(PF.l2sq("embedding", "__qv", PF.SPARK)).alias("__d2"),
        )
    )
    l2_truth: dict = {}
    for r in _two_phase_topk(
        l2_scored, "query_id", [F.col("__d2").asc(), F.col("neighbor_id")], K
    ).collect():
        l2_truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann_rows: dict[str, dict] = {
        "brute_force": {"sec": bf.sec, "recall_at_10": 1.0},
        "num_queries": NQ,
    }
    def _ann_recall_of(got_rows, against=None):
        got: dict = {}
        for r in got_rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        t = truth if against is None else against
        hits = sum(len(got.get(q, set()) & neigh) for q, neigh in t.items())
        return round(hits / (len(t) * K), 4)

    for label, thunk in (
        ("lsh", lambda: lsh_ann(embt, num_queries=NQ, k=K)),
        ("lsh_mp", lambda: lsh_ann(embt, num_queries=NQ, k=K, nprobe=3)),
        ("ivf", lambda: ivf_ann(embt, num_queries=NQ, k=K)),
        ("pq", lambda: pq_ann(embt, num_queries=NQ, k=K)),
        ("ivfpq", lambda: ivf_pq_ann(embt, num_queries=NQ, k=K)),
        # round-9 two-phase exact-refine fronts: prefix truncation
        # (matryoshka) and the trained sampled-PCA basis — shortlist
        # 4x K, quarter-dim cheap scorer, exact full-dim re-rank
        ("mrl", lambda: _mrl(embt, num_queries=NQ, k=K,
                             prefix_dim=16, shortlist=4 * K)),
        ("pca16", lambda: _pca(embt, num_queries=NQ, k=K,
                               out_dim=16, shortlist=4 * K)),
    ):
        served = obs.measure(None, lambda: thunk().collect())
        release_sketch_caches()
        recall = _ann_recall_of(served.value)
        ann_rows[label] = {"sec": served.sec, "recall_at_10": recall}
        if label in ("pq", "ivfpq"):
            l2_recall = _ann_recall_of(served.value, l2_truth)
            ann_rows[label]["recall_at_10_l2"] = l2_recall

    # In-session trained families, build/serve split (VERDICT r8 item
    # 1): a session trains + encodes ONCE (build_sec: sampling, local
    # k-means, Arrow encode, cache materialization) and serves every
    # query batch after from the cached index (serve_sec: the fused
    # ADC-shortlist + exact-refine job — ONE job, the raw vectors ride
    # the shortlist so there is no second corpus scan). "sec" stays
    # build+serve for cross-round continuity. The deploy gate: every
    # trained serve must beat the brute-force wall at this scale.
    from example_kafkastreams_spark.operators.knn import (
        ivf_flat_ann_trained_build,
        ivf_pq_ann_trained_build,
        ivf_pq_ann_trained_serve,
        ivfflat_score,
        pq_ann_trained_build,
        pq_ann_trained_serve,
    )

    ann_qrows = qrows  # the NQ (id, vector) rows collected above

    def _split_row(build_thunk, serve_thunk):
        def build():
            built = build_thunk()
            built[-1].count()  # materialize the session cache
            return built

        b = obs.measure(None, build)
        served = obs.measure(None, lambda: serve_thunk(b.value).collect())
        release_sketch_caches()
        recall = _ann_recall_of(served.value)
        return {
            "build_sec": b.sec,
            "serve_sec": served.sec,
            "sec": round(b.sec + served.sec, 3),
            "recall_at_10": recall,
        }

    ann_rows["pq_trained"] = _split_row(
        lambda: pq_ann_trained_build(embt),
        lambda b: pq_ann_trained_serve(b[-1], b[0], ann_qrows, k=K),
    )
    ann_rows["ivfpq_trained"] = _split_row(
        lambda: ivf_pq_ann_trained_build(embt),
        lambda b: ivf_pq_ann_trained_serve(
            b[-1], b[0], b[1], ann_qrows, k=K
        ),
    )
    # nprobe=12 (was 8): the r9 sweep's recall@10 sat EXACTLY on the
    # 0.85 gate floor — 12-of-64 cells buys headroom while the serve
    # stays well under the brute-force wall
    ann_rows["ivfflat_trained"] = _split_row(
        lambda: ivf_flat_ann_trained_build(embt),
        lambda b: ivfflat_score(b[-1], b[0], ann_qrows, K, nprobe=12),
    )
    # Build/serve split — the deployable story. The *_trained walls
    # above bill sampling + training + encode to EVERY call; a
    # production deployment trains and encodes ONCE (the persistent
    # artifact, operators/ann_index.py) and serves many sessions from
    # it. build_sec = train + Arrow encode + parquet write; serve_sec
    # = the cost a fresh query session actually pays — load meta,
    # ADC-shortlist against the codes parquet (~nprobe/nc of it,
    # m bytes/vector), exact-refine the shortlist. Same parameters as
    # the ivfpq_trained row, so its recall is the serve recall.
    import shutil
    import tempfile

    from example_kafkastreams_spark.operators.ann_index import (
        ann_index_query,
        ivfpq_index_write,
    )
    from example_kafkastreams_spark.operators.knn import train_ivfpq_local

    NC, NPROBE = 64, 16
    idx_dir = tempfile.mkdtemp(prefix="bench_ivfpq_idx_")
    try:
        def build():
            trained = train_ivfpq_local(embt, NC, 16, 256)
            ivfpq_index_write(
                embt, idx_dir, cents=trained[0], codebook=trained[1]
            )
            return trained

        b = obs.measure(None, build)
        cents_t = b.value[0]
        served = obs.measure(
            None,
            lambda: ann_index_query(
                spark,
                idx_dir,
                embt.filter(F.col("vec_id") < NQ),
                k=K,
                nprobe=NPROBE,
                refine=100,
                rerank_against=embt,
            ).collect(),
        )
        release_sketch_caches()
        ann_rows["ivfpq_trained_index"] = {
            "build_sec": b.sec,
            "serve_sec": served.sec,
            "recall_at_10": _ann_recall_of(served.value),
            "config": f"nc={NC} nprobe={NPROBE} m=16 codes=256 refine=100",
        }
        # IVF-Flat serve from the SAME coarse quantizer (the raw-vector
        # quadrant: exact cosine inside probed cells, no refine) — its
        # build reuses cents_t, so build_sec here is encode + write
        # only; training is billed once above.
        from example_kafkastreams_spark.operators.ann_index import (
            ivfflat_index_write,
        )

        flat_dir = tempfile.mkdtemp(prefix="bench_ivfflat_idx_")
        try:
            flat_build = obs.measure(
                None, lambda: ivfflat_index_write(embt, flat_dir, cents_t)
            )
            flat_served = obs.measure(
                None,
                lambda: ann_index_query(
                    spark,
                    flat_dir,
                    embt.filter(F.col("vec_id") < NQ),
                    k=K,
                    nprobe=12,
                ).collect(),
            )
            release_sketch_caches()
            ann_rows["ivfflat_trained_index"] = {
                "build_sec": flat_build.sec,
                "serve_sec": flat_served.sec,
                "recall_at_10": _ann_recall_of(flat_served.value),
                "config": f"nc={NC} nprobe=12 raw-vector cells",
            }
        finally:
            shutil.rmtree(flat_dir, ignore_errors=True)
        # Measured per-query scan fraction of the trained IVF-PQ code
        # table (the IVF promise): histogram the PERSISTED cells and
        # average each query's probed-cell mass.
        hist = {
            r["cell"]: r["count"]
            for r in spark.read.parquet(os.path.join(idx_dir, "codes"))
            .groupBy("cell")
            .count()
            .collect()
        }
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    total = sum(hist.values())
    fracs = []
    for qr in qrows:
        qv = [float(x) for x in qr[1]]
        probed = sorted(
            range(NC), key=lambda ci: (-_py_cosine(qv, cents_t[ci]), ci)
        )[:NPROBE]
        fracs.append(sum(hist.get(c, 0) for c in probed) / total)
    scan_frac = round(sum(fracs) / len(fracs), 4)
    ann_rows["ivfpq_trained"]["scan_frac"] = scan_frac
    ann_rows["ivfpq_trained_index"]["scan_frac"] = scan_frac
    ann_rows["ivfpq_trained"]["config"] = (
        f"nc={NC} nprobe={NPROBE} m=16 codes=256 refine=100"
    )
    ann_rows["pq_trained"]["config"] = "m=16 codes=256 refine=100"
    release_sketch_caches()
    compare["ann_recall"] = ann_rows

    # Serving-quality gate (VERDICT r9 item 2): recall was the one
    # number with no regression flag — a silent drop in a trained
    # family would have gone unnoticed. Every TRAINED family must (a)
    # hold recall@10 at or above its committed floor and (b) serve
    # faster than same-run brute force (the whole point of an index).
    # The sample-codebook rows (lsh/pq/ivfpq without training) are
    # oracle-shape demonstrations, documented low-recall — not gated.
    RECALL_FLOOR = 0.85
    bf_wall = ann_rows["brute_force"]["sec"]
    recall_flags: dict[str, dict] = {}
    for fam in (
        "pq_trained",
        "ivfpq_trained",
        "ivfflat_trained",
        "ivfpq_trained_index",
        "ivfflat_trained_index",
    ):
        row = ann_rows.get(fam)
        if not row:
            recall_flags[fam] = {"err": "row missing from sweep"}
            continue
        bad = {}
        if row["recall_at_10"] < RECALL_FLOOR:
            bad["recall_at_10"] = row["recall_at_10"]
            bad["floor"] = RECALL_FLOOR
        if row["serve_sec"] >= bf_wall:
            bad["serve_sec"] = row["serve_sec"]
            bad["brute_force_sec"] = bf_wall
        if bad:
            recall_flags[fam] = bad

    # Blocking-quality gate (round 10): the q41 eval branch measures
    # MinHash-LSH candidate recall against exact-Jaccard truth on a
    # sample; a bands/hashes retune that silently drops it is data
    # loss. Floor 0.8 (current data measures 1.0); precision is
    # reported, not gated — low precision is a cost, not a loss.
    DEDUP_RECALL_FLOOR = 0.8
    ev = {
        int(r["doc_a"]): (int(r["doc_b"]), float(r["est_jaccard"]))
        for r in QUERIES["q41_dedup_minhash_lsh"](spark, SF_DIR)
        .filter(F.col("mode") == "eval")
        .collect()
    }
    # ordinals: 1=precision, 2=recall, 3=f1 (counts ride alongside)
    compare["dedup_blocking_eval"] = {
        "precision": ev.get(1, (0, None))[1],
        "recall": ev.get(2, (0, None))[1],
        "f1": ev.get(3, (0, None))[1],
        "n_truth": ev.get(2, (0, None))[0],
        "n_candidates": ev.get(1, (0, None))[0],
    }
    if ev.get(2) and ev[2][1] is not None and ev[2][1] < DEDUP_RECALL_FLOOR:
        recall_flags["dedup_blocking"] = {
            "recall": ev[2][1],
            "floor": DEDUP_RECALL_FLOOR,
            "n_truth": ev[2][0],
        }
    release_sketch_caches()

    # Round-10 physical-strategy compares — the measured halves of the
    # q19/q11 branch claims.
    # (a) group-wise top-k: the window plan exchanges every row; the
    # two-phase combiner exchanges only locally-pruned survivors.
    from pyspark.sql import Window as _W

    from example_kafkastreams_spark.operators.topk import topk_per_group

    ev_src = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    _w19 = _W.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    topk_cmp: dict[str, dict] = {}
    for label, mk in (
        (
            "window_rank",
            lambda: ev_src.withColumn("rn", F.row_number().over(_w19))
            .filter(F.col("rn") <= 3),
        ),
        (
            "two_phase_topk",
            lambda: topk_per_group(
                ev_src, ["user_id"],
                [("value", True), ("event_id", False)], 3,
            ),
        ),
    ):
        topk_cmp[label] = obs.measure(
            spark, lambda: obs.run_noop(mk()), runs=3
        ).row(obs.SHUFFLE)
    compare["topk_vs_window"] = topk_cmp

    # (b) incremental rollup: ONE maintenance step over a
    # pre-materialized state + the day's delta vs the full re-scan
    # rebuild. The honest comparison at 100 TB: the rebuild reads all
    # history, the maintenance step reads |delta| rows + |groups|
    # state rows.
    import tempfile as _tf

    from example_kafkastreams_spark.operators.rollup import (
        rollup_apply_delta,
        rollup_build,
        rollup_finalize,
    )

    li10 = load_table(spark, SF_DIR, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    mv_sums = {"sum_qty": (F.col("l_quantity"), 2)}
    mv_keys = ["l_returnflag", "l_linestatus"]
    state_dir = _tf.mkdtemp(prefix="bench_mv_state_")
    state_build = obs.measure(
        None,
        lambda: rollup_build(
            li10.filter(F.col("l_orderkey") % 20 != 0), mv_keys, mv_sums
        ).write.mode("overwrite").parquet(state_dir),
    )
    mv_cmp: dict[str, dict] = {"state_build_once": state_build.row()}
    for label, mk in (
        (
            "full_rebuild",
            lambda: rollup_finalize(
                rollup_build(li10, mv_keys, mv_sums), sums={"sum_qty": 2}
            ),
        ),
        (
            "delta_maintain",
            lambda: rollup_finalize(
                rollup_apply_delta(
                    spark.read.parquet(state_dir),
                    li10.filter(F.col("l_orderkey") % 20 == 0),
                    mv_keys,
                    mv_sums,
                ),
                sums={"sum_qty": 2},
            ),
        ),
    ):
        mv_cmp[label] = obs.measure(
            spark, lambda: obs.run_noop(mk()), runs=3
        ).row(obs.SHUFFLE)
    import shutil as _sh

    _sh.rmtree(state_dir, ignore_errors=True)
    compare["mv_maintenance"] = mv_cmp

    # The skewed_* rows last, in a fresh session whose status store
    # keeps every task row: their skew reads need the whole task
    # population, while every timed region above keeps the stage-grain
    # store (retained task rows drag later regions via GC).
    spark.stop()
    spark = obs.measuring_session(
        "bench-skew", SF_DIR, {"spark.ui.retainedTasks": "100000"}
    )
    compare.update(skew_rows(spark))

    # Regression gate (VERDICT r6 item 5; share-normalized round 9).
    # Shuffle records are deterministic — a shuffle flag means "the
    # plan changed" and is the trustworthy signal. Walls on this host
    # swing ~2x minute-to-minute, and the r8 canary experiment FAILED:
    # a fixed Python loop does not track Spark walls (r8 recorded a
    # 101 s fast-wall run with the SLOWEST canary of its three
    # sweeps; the r9 sweep saw the inverse), so canary-scaled
    # absolute thresholds kept flagging noise (the q03/q27 limbo).
    # The wall gate therefore compares each query's SHARE of the
    # run's declared total against its share of the baseline
    # artifact's total: uniform host speed cancels exactly, and a
    # real single-query regression still grows its share. Flag when
    # share > 1.5x baseline share AND the query is > 0.3 s over its
    # share-predicted wall (absolute floor for sub-second slots).
    # Canaries stay recorded for forensics; a whole-run slowdown
    # (which share normalization cannot see) shows in the reported
    # total_wall_vs_baseline ratio instead.
    canary_end = host_canary()
    canary = max(canary_start, canary_end)
    wall_base, shuf_base, base_src, base_canary, base_queries = (
        load_baselines()
    )
    regressions: dict[str, dict] = {
        "wall": {},
        "shuffle": {},
        "recall": recall_flags,
    }
    cur_total = sum(timings.values()) or 1.0
    for k, sec in timings.items():
        b = wall_base.get(k)
        if not b:
            continue
        # denominator: the baseline artifact's wall over the slots
        # both runs declare, so retired/added slots don't skew shares
        tagq = base_queries.get(base_src.get(k), {})
        base_total = sum(v for kk, v in tagq.items() if kk in timings)
        if base_total <= 0:
            continue
        share_b = b / base_total
        share = sec / cur_total
        expected = share_b * cur_total
        if share > 1.5 * share_b and sec - expected > 0.3:
            regressions["wall"][k] = {
                "sec": sec,
                "baseline_sec": b,
                "share": round(share, 4),
                "baseline_share": round(share_b, 4),
                "share_ratio": round(share / share_b, 2),
                "expected_sec": round(expected, 3),
                "baseline_src": base_src.get(k),
            }
    for k, s in shuffles.items():
        rec = s.get("shuffle_write_records")
        b = shuf_base.get(k)
        if b and rec is not None and rec > 1.3 * b and rec - b > 10_000:
            regressions["shuffle"][k] = {
                "records": rec,
                "baseline_records": b,
                "ratio": round(rec / b, 2),
            }

    # whole-run wall vs the dominant baseline artifact over the shared
    # slot set — the signal share normalization cannot see (report,
    # not gate: host windows legitimately swing this ~2x)
    from collections import Counter as _Counter

    total_vs_base = None
    common = _Counter(
        base_src[k] for k in timings if k in base_src
    ).most_common(1)
    if common:
        main_tag = common[0][0]
        tagq = base_queries.get(main_tag, {})
        base_total_main = sum(
            v for kk, v in tagq.items() if kk in timings
        )
        cur_shared = sum(
            v for kk, v in timings.items() if kk in tagq
        )
        if base_total_main > 0:
            total_vs_base = {
                "ratio": round(cur_shared / base_total_main, 2),
                "baseline_src": main_tag,
                "shared_slots": sum(1 for kk in timings if kk in tagq),
            }

    out = {
        "metric": "total_declared_query_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "total_wall_vs_baseline": total_vs_base,
        "queries": timings,
        "query_shuffle": shuffles,
        "branch_timings": branch_timings,
        "regressions": regressions,
        "host_canary": {
            "loop_sec": canary,
            "loop_sec_start": canary_start,
            "loop_sec_end": canary_end,
        },
        "sf": sf_from_dir(SF_DIR),
        "plan_compare": compare,
    }
    print(json.dumps(out))
    # The driver records only the tail of this process's output, which
    # truncates the big line above before its per-query map.  Print a
    # SECOND, final, compact line holding just the per-query timings so
    # the tail window always captures a parseable baseline for every
    # query, and persist the full result as a committed artifact.
    print(
        json.dumps(
            {
                "metric": "per_query_wall_seconds",
                "queries": timings,
                "sf": sf_from_dir(SF_DIR),
            },
            separators=(",", ":"),
        )
    )
    self_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SELF.json"
    )
    try:
        with open(self_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
