"""Document deduplication at scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

North-star extensions (SURVEY.md §2.9) — not in the reference (its
dedup is keyed-event dedup, ClickstreamJoinExample.scala:243-257);
these are the content-similarity dedup stages an LLM training-data
pipeline runs over a `documents` corpus.

Scale design (the point — correctness is checked at sf0.01, the shape
must hold at 100 TB):

- Exact dedup hashes the full text per row map-side and groups on the
  16-byte digest — the shuffle carries (digest, id), never the text.
- MinHash+LSH: signatures are computed scan-side (one pass per doc,
  no shuffle); docs then explode to `bands` rows (small constant) and
  shuffle on the *band key* — candidate generation is an equi-join on
  band buckets, so comparisons scale with collisions, not with |docs|².
  Verification (signature agreement / exact Jaccard) touches only
  candidate pairs.
- SimHash is a pure map (one 64-dim-ish bit vote per doc); near-dup
  pairs again go through band buckets (here: the 4 bytes of the hash)
  rather than all-pairs.
- All hashing is md5-based and expressed through
  ``functions.portable`` so the DuckDB oracle runs the *same* bits.

Every expression stays JVM-side (Catalyst higher-order functions —
no Python in the per-doc path). A Pandas-UDF fast path exists for
SimHash (`simhash32_pandas`) as the Arrow-vectorized escape hatch;
tests pin it equal to the expression version.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from .cache import persist_tracked

from ..functions import portable as P

# --- exact dedup ----------------------------------------------------------


def exact_text_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str | None = None,
) -> DataFrame:
    """Exact content dedup: one survivor (min id) per distinct text.

    GroupBy on md5(text): the exchange carries 32 hex chars + the id
    per row instead of the document body; partial aggregation collapses
    duplicate-heavy partitions before the shuffle. Callers that already
    materialized the digest (a shared scan pass feeding several
    branches, or a stored digest-index table) pass it via
    ``digest_col`` and skip the md5 entirely.
    """
    key = (
        F.col(digest_col).alias("content_hash")
        if digest_col
        else F.md5(F.col(text_col)).alias("content_hash")
    )
    return (
        docs.groupBy(key)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "content_hash", "n_copies")
    )


def incremental_exact_dedup(
    delta: DataFrame,
    corpus_digests: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus — the shape every
    continuously-ingesting pipeline runs: nothing re-reads the
    historical 100 TB, the delta is checked against the corpus's
    precomputed DIGEST INDEX (one 32-hex-char column named
    ``content_hash``; ``exact_text_dedup``'s output is exactly that
    index, so the operator composes with itself across ingests).

    Two stages, both digest-keyed:
    1. within-delta collapse — ``exact_text_dedup`` on the delta
       (min-id survivor per distinct text), and
    2. against-corpus anti join on ``content_hash``.

    Returns the delta survivors in the same (id, content_hash,
    n_copies) layout so the caller can append them to the digest
    index: ``index' = index ∪ result``.

    Scale: the anti join shuffles DIGESTS, never text; with the index
    stored bucketed by ``content_hash`` (sources.bucketed) the index
    side's exchange disappears entirely, and Spark's runtime bloom
    filter (`spark.sql.optimizer.runtime.bloomFilter.enabled`) can
    push a delta-side membership probe below the exchange when the
    delta is the smaller side.
    """
    fresh = exact_text_dedup(delta, id_col, text_col, digest_col)
    return fresh.join(
        corpus_digests.select("content_hash"), "content_hash", "left_anti"
    ).select(id_col, "content_hash", "n_copies")


def exact_dedup_with_delta(
    docs: DataFrame,
    delta_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(one-shot dedup, delta-vs-index incremental result) from ONE
    scan and ONE digest-keyed aggregation — the fused form of
    ``exact_text_dedup`` + ``incremental_exact_dedup`` for the
    backfill-plus-delta audit every re-ingest runs ("what does the
    full corpus dedup to, and what would today's delta alone add?").

    ``delta_cond`` is a boolean Column marking delta rows; the rest is
    the already-ingested index. Per digest group the aggregation keeps
    global min/count plus delta-only min/count and an index-presence
    flag — conditional aggregates, map-side partial — so the fused
    plan shuffles the SAME (digest, id) rows the one-shot dedup alone
    shuffles, and the incremental branch costs zero extra exchanges
    (the composition of the two operators scans twice and adds an
    anti-join exchange; a unit test pins result equality).

    ``persist=True`` caches the per-digest aggregate (tiny: one row
    per DISTINCT text) so consumers of both returned frames share one
    scan — release with ``operators.cache.release_sketch_caches``.
    """
    g = (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("__min_all"),
            F.count(F.lit(1)).alias("__n_all"),
            F.min(F.when(delta_cond, F.col(id_col))).alias("__min_delta"),
            F.count(F.when(delta_cond, F.lit(1))).alias("__n_delta"),
            F.max(F.when(~delta_cond, F.lit(True))).alias("__in_index"),
        )
    )
    if persist:
        g = persist_tracked(g)
    full = g.select(
        F.col("__min_all").alias(id_col),
        "content_hash",
        F.col("__n_all").alias("n_copies"),
    )
    incr = g.filter(
        F.col("__in_index").isNull() & F.col("__min_delta").isNotNull()
    ).select(
        F.col("__min_delta").alias(id_col),
        "content_hash",
        F.col("__n_delta").alias("n_copies"),
    )
    return full, incr


def exact_dedup_with_delta_tagged(
    docs: DataFrame,
    delta_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``exact_dedup_with_delta`` emitted as ONE mode-tagged frame in
    ONE pass: each per-digest aggregate row explodes into its ``full``
    row plus (when the group is delta-only) its ``incr`` row — no
    cache, no second read, no union of two plan branches. This is the
    single-consumer form (q40's merged driver row); the two-frame
    variant remains for callers that feed the branches to different
    sinks. A unit test pins the outputs equal.
    """
    # three aggregates suffice: a digest group is delta-only IFF every
    # copy is delta (n_delta == n_all), and then its incremental
    # survivor/count ARE the group's min/count — no separate
    # delta-min/index-flag aggregates needed
    g = docs.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias("__min_all"),
        F.count(F.lit(1)).alias("__n_all"),
        F.count(F.when(delta_cond, F.lit(1))).alias("__n_delta"),
    )
    full_row = F.struct(
        F.lit("full").alias("mode"),
        F.col("__min_all").alias(id_col),
        F.col("__n_all").alias("n_copies"),
    )
    incr_row = F.struct(
        F.lit("incr").alias("mode"),
        F.col("__min_all").alias(id_col),
        F.col("__n_all").alias("n_copies"),
    )
    rows = F.when(
        (F.col("__n_delta") == F.col("__n_all"))
        & (F.col("__n_delta") > 0),
        F.array(full_row, incr_row),
    ).otherwise(F.array(full_row))
    return g.select(
        "content_hash", F.explode(rows).alias("__r")
    ).select(
        F.col("__r.mode").alias("mode"),
        "content_hash",
        F.col(f"__r.{id_col}").alias(id_col),
        F.col("__r.n_copies").alias("n_copies"),
    )


# --- MinHash + LSH --------------------------------------------------------


def _rebalance(docs: DataFrame, id_col: str) -> DataFrame:
    """Spread the corpus across the cluster before expensive per-doc
    sketch work. The sketch pipelines are compute-bound (one md5 per
    shingle/token ≫ the bytes moved), so one hash-partitioned pass of
    (id, text) over the wire buys full parallelism for the map stage
    AND de-skews pathological input layouts (our testdata: one parquet
    row group ⇒ a single scan partition that would serialize the whole
    sketch computation into one task once the stage is persisted).

    Conditional: only fires when the input has FEWER partitions than
    the cluster has slots. A 100 TB scan already arrives in thousands
    of partitions — repartitioning it down to defaultParallelism would
    shuffle the full text corpus to COALESCE it, the exact opposite of
    the intent.

    Probe cost (ADVICE r4, closed this round): `rdd.getNumPartitions`
    is job-free only for exchange-free plans. Under AQE (the session
    default), taking `.rdd` of a shuffle-bearing plan MATERIALIZES its
    upstream query stages — real Spark jobs whose work is thrown away
    and silently re-run when the caller later executes the frame
    (measured: five ~0.6-2 s single-task probe jobs inside one q63
    funnel build). The plan shape is detectable job-free — AQE only
    wraps plans that contain exchanges — so: exchange-free plans keep
    the exact partition-count probe (still job-free, and it never
    re-shuffles an already-wide scan), and shuffle-bearing plans
    decide from Catalyst's size ESTIMATE instead (also job-free): an
    input of at least slots × maxPartitionBytes arrives wide from any
    scan or AQE-coalesced exchange, anything smaller is worth one
    bounded spread pass. The estimate errs toward "big" (Filter keeps
    its child's size without CBO stats), i.e. toward NOT adding an
    exchange — the safe side at 100 TB."""
    spark = docs.sparkSession
    n = spark.sparkContext.defaultParallelism
    qe = docs._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        # JVM-side Dataset.rdd: same physical-plan partition count as
        # the Python .rdd property but ~4x cheaper per call — the
        # Python path additionally builds the javaToPython conversion
        # pipeline and a Python RDD wrapper just to read one int
        # (measured 0.46 s vs 0.10 s per call; _rebalance sits on
        # several query build paths).
        if docs._jdf.rdd().getNumPartitions() >= n:
            return docs
        return docs.repartition(n, id_col)
    est = int(qe.optimizedPlan().stats().sizeInBytes())
    split = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    if est >= n * split:
        return docs
    return docs.repartition(n, id_col)


def with_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) — distinct n-token shingle arrays: the shared base stage
    of the MinHash / exact-Jaccard pipelines. Callers that need both
    signatures and exact verification compute this ONCE and persist it
    (``ngram_jaccard_pairs``) so the tokenize+slice tree runs one pass
    over the corpus instead of one per downstream reference."""
    return docs.select(
        F.col(id_col),
        F.expr(P.shingles(text_col, shingle_n, P.SPARK)).alias("sh"),
    )


def with_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    shingle_n: int = 3,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig) — MinHash signature over distinct n-token shingles.

    Two projections: the md5 base-hash array materializes first so the
    k affine min-reductions reuse it (CollapseProject keeps expensive
    multiply-referenced expressions un-inlined) — one md5 per shingle
    total instead of k. Pass ``shingle_df`` (from ``with_shingles``,
    ideally persisted) to reuse an already-materialized shingle stage.
    """
    if shingle_df is None:
        sh = P.shingles(text_col, shingle_n, P.SPARK)
        src = docs
    else:
        sh = "sh"
        src = shingle_df
    hv = src.select(
        F.col(id_col), F.expr(P.base_hash_array(sh, P.SPARK)).alias("hv")
    )
    return hv.select(
        F.col(id_col),
        F.expr(P.minhash_sig("hv", num_hashes, P.SPARK)).alias("sig"),
    )


def lsh_bands(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 3,
) -> DataFrame:
    """Explode signatures to (id, band_idx, band_key) bucket rows."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(P.band_key("sig", b, rows_per_band, P.SPARK)).alias(
                    "band_key"
                ),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(
        F.col(id_col), F.explode(entries).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs with estimated Jaccard ≥ threshold.

    candidate generation: equi-self-join on (band_idx, band_key) — a
    pair is compared iff it collides in ≥1 band (probability
    1-(1-j^r)^b, the LSH S-curve). Estimated Jaccard = signature
    agreement fraction, computed only for candidates.

    Output: (doc_a, doc_b, est_jaccard), doc_a < doc_b.
    """
    rows_per_band = num_hashes // bands
    if sig_df is None:
        # The signature table fans out FOUR ways below (bands build +
        # probe, sig_a, sig_b). Persist it so the shingle+md5 scan over
        # the text runs once; signatures are |docs| x (id + k ints) —
        # tiny next to the corpus. At 100 TB the same stage is a
        # parquet checkpoint; MEMORY_AND_DISK is the local analog. A
        # caller-provided sig_df is reused as-is (the caller owns its
        # materialization — see ngram_jaccard_pairs).
        sig_df = persist_tracked(with_minhash(
            docs=_rebalance(docs, id_col),
            id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n,
        ))
    bands_df = lsh_bands(sig_df, id_col, bands, rows_per_band)

    # shuffle_hash, never broadcast: both sides derive from the corpus,
    # and a broadcast build would re-evaluate the whole signature
    # pipeline single-threaded (measured 3x slower locally; fatal at
    # scale where the bands table is |docs|x4)
    a = bands_df.alias("a")
    b = bands_df.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig_df.hint("shuffle_hash").select(
        F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sb = sig_df.hint("shuffle_hash").select(
        F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                P.round_dbl(
                    P.sig_agreement("sig_a", "sig_b", num_hashes, P.SPARK),
                    6,
                    P.SPARK,
                )
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    candidate_threshold: float = 0.25,
    threshold: float = 0.5,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard, evaluated only on LSH candidates.
    ``shingle_df``: a pre-persisted ``with_shingles`` frame over the
    rebalanced corpus — a caller running several shingle consumers
    (q44's jac+contain) shares one tokenize pass.

    The two-stage shape is the 100 TB design: LSH prunes |docs|² down
    to collision pairs, exact set intersection confirms. Output
    (doc_a, doc_b, jaccard) with jaccard ≥ threshold.
    """
    # ONE persisted sketch table (id, shingles, signature) feeds both
    # the LSH candidate pipeline (bands x2, sig x2) and the exact
    # verify joins (sh x2) — the tokenize+hash scan over the corpus
    # runs once instead of once per downstream reference. At 100 TB
    # this stage is a parquet checkpoint; the in-memory persist is the
    # local analog.
    base = (
        shingle_df
        if shingle_df is not None
        else with_shingles(
            _rebalance(docs, id_col), id_col, text_col, shingle_n
        )
    )
    hv = base.select(
        id_col, "sh", F.expr(P.base_hash_array("sh", P.SPARK)).alias("hv")
    )
    sketch = persist_tracked(hv.select(
        id_col,
        "sh",
        F.expr(P.minhash_sig("hv", num_hashes, P.SPARK)).alias("sig"),
    ))
    cand = minhash_lsh_pairs(
        docs, id_col, text_col, num_hashes, bands, shingle_n,
        threshold=candidate_threshold,
        sig_df=sketch.select(id_col, "sig"),
    ).select("doc_a", "doc_b")
    # same broadcast-build hazard as above
    sh = sketch.select(id_col, "sh").hint("shuffle_hash")
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = (
        f"{P.size_(P.intersect_('sh_a', 'sh_b', P.SPARK), P.SPARK)}"
        f" / {P.union_size('sh_a', 'sh_b', P.SPARK)}"
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(P.round_dbl(jac, 6, P.SPARK)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    sample_mod: int = 4,
    max_df: int = 64,
    min_shared: int = 2,
    threshold: float = 0.8,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-duplicate detection by Broder CONTAINMENT
    C(A→B) = |A∩B| / |A| — the boilerplate-wrap / quote-inclusion
    case Jaccard-threshold dedup is structurally blind to: a small
    document embedded in a much larger one has high containment but
    LOW Jaccard (|A∩B|/|A∪B| shrinks with the big side), so it never
    crosses a MinHash-LSH Jaccard gate.

    Candidates come from a SAMPLED-SHINGLE inverted index rather than
    MinHash bands (bands collide on Jaccard — using them here would
    reintroduce the blindness this operator exists to fix): each
    document posts the shingles whose portable hash ≡ 0 mod
    ``sample_mod`` (deterministic, content-keyed — both sides of a
    containment pair sample the SAME shingles, so an A ⊆ B pair
    shares ≈ |A|/sample_mod postings regardless of |B|), and pairs
    sharing ≥ ``min_shared`` sampled shingles graduate to exact
    verification. Shingles with document frequency > ``max_df`` are
    dropped from the index as stop-shingles (near-universal
    boilerplate n-grams would otherwise quadratically explode their
    posting lists; dropping them only suppresses candidates whose
    ONLY overlap is that boilerplate).

    Exact verify: both directed containments from the distinct
    shingle arrays; emit pairs whose max direction ≥ ``threshold``.

    Scale shape: the postings exchange carries ~1/sample_mod of the
    corpus shingle occurrences (df-capped), the pair aggregation is
    bounded by Σ df² ≤ max_df × postings, and the exact verify joins
    only the candidate ids back to the persisted shingle table — the
    same collide-then-verify contract as every dedup family here.
    Output: (doc_a, doc_b, n_shared_sampled, cont_a_in_b, cont_b_in_a)
    with doc_a < doc_b.
    """
    base = (
        shingle_df
        if shingle_df is not None
        else persist_tracked(
            with_shingles(
                _rebalance(docs, id_col), id_col, text_col, shingle_n
            )
        )
    )
    post = (
        base.select(F.col(id_col), F.explode("sh").alias("shingle"))
        .filter(
            F.expr(P.token_hash32("shingle", P.SPARK)) % sample_mod == 0
        )
    )
    # stop-shingle cap: df computed over the SAMPLED postings
    keep = (
        post.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    post = post.join(keep, "shingle")
    a = post.select(F.col("shingle"), F.col(id_col).alias("doc_a"))
    b = post.select(F.col("shingle"), F.col(id_col).alias("doc_b"))
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_sampled"))
        .filter(F.col("n_shared_sampled") >= min_shared)
    )
    sha = base.select(
        F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    shb = base.select(
        F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    inter = P.size_(P.intersect_("sh_a", "sh_b", P.SPARK), P.SPARK)
    cab = f"CAST({inter} AS DOUBLE) / {P.size_('sh_a', P.SPARK)}"
    cba = f"CAST({inter} AS DOUBLE) / {P.size_('sh_b', P.SPARK)}"
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_sampled",
            F.expr(P.round_dbl(cab, 6, P.SPARK)).alias("cont_a_in_b"),
            F.expr(P.round_dbl(cba, 6, P.SPARK)).alias("cont_b_in_a"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= threshold
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    candidate_threshold: float = 0.25,
    max_ratio: float = 0.2,
) -> DataFrame:
    """Fuzzy dedup by normalized edit distance, LSH-pruned.

    Levenshtein is O(len²) per pair — unusable all-pairs, fine on LSH
    candidates (same prune-then-verify shape as ``ngram_jaccard_pairs``;
    the expensive verifier only ever sees collision pairs). Emits
    (doc_a, doc_b, edit_ratio) with ratio = lev / max(len) ≤ max_ratio.
    """
    cand = minhash_lsh_pairs(
        docs, id_col, text_col, num_hashes, bands, shingle_n,
        threshold=candidate_threshold,
    ).select("doc_a", "doc_b")
    t = docs.hint("shuffle_hash")  # corpus-derived: never broadcast
    a = t.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("t_a"))
    b = t.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("t_b"))
    ratio = (
        "round(CAST(levenshtein(t_a, t_b) AS DOUBLE)"
        " / greatest(length(t_a), length(t_b)), 6)"
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.expr(ratio).alias("edit_ratio"))
        .filter(F.col("edit_ratio") <= max_ratio)
    )


# --- SimHash --------------------------------------------------------------


def with_simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — 32-bit tf-weighted SimHash fingerprint.

    Token hashes materialize once (one md5 per token); the 32 bit
    votes are integer arithmetic over the reused array.
    """
    hv = docs.select(
        F.col(id_col),
        F.expr(P.token_hash_array(text_col, P.SPARK)).alias("hv"),
    )
    return hv.select(
        F.col(id_col),
        F.expr(P.simhash_from_hashes("hv", P.SPARK)).alias("simhash"),
    )


def simhash32_pandas(text: pd.Series) -> pd.Series:
    """Arrow-vectorized SimHash — the scale path when the expression
    tree becomes the bottleneck. Bit-identical to the
    ``portable.token_hash_array``+``simhash_from_hashes`` pair (tests
    pin this): token hash = first 4 md5 bytes big-endian (== first 8
    hex digits), bit b read directly off the integer."""
    out = np.empty(len(text), dtype=np.int64)
    for row, doc in enumerate(text):
        hs = np.array(
            [
                int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big")
                for t in doc.split(" ")
            ],
            dtype=np.int64,
        )
        n = len(hs)
        sh = 0
        for b in range(32):
            if 2 * int(((hs >> b) & 1).sum()) > n:
                sh |= 1 << b
        out[row] = sh
    return pd.Series(out)


simhash32_udf = F.pandas_udf(simhash32_pandas, T.LongType())


def simhash_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Persisted (id, simhash) sketch table — build it ONCE and pass
    as ``sh_df`` to every sketch consumer in a pipeline
    (``simhash_components_edges``, ``simhash_chain_hops``, …) so the
    corpus token-hash scan is paid once. The 12-byte-per-row sketch is
    the natural checkpoint artifact at 100 TB. Inside a memoized build
    the persist is owned by the memo (operators.cache)."""
    return persist_tracked(with_simhash(
        _rebalance(docs, id_col), id_col, text_col
    ))


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation via the 4-byte band trick: two 32-bit hashes
    within Hamming distance 3 share at least one identical byte
    (pigeonhole over 4 bands); we band on all 4 bytes and verify the
    true distance with bit_count(xor). For the looser default radius
    the byte-band is a high-recall prefilter of the same shape used at
    scale (more/wider bands tighten the guarantee).
    """
    # Same persist rationale as the MinHash path: the (id, simhash)
    # table feeds the band build AND probe sides — one token-hash scan
    # over the corpus instead of two, and the 12-byte-per-row sketch is
    # the natural checkpoint at 100 TB.
    sh = persist_tracked(with_simhash(
        _rebalance(docs, id_col), id_col, text_col
    ))
    return _simhash_band_pairs(sh, id_col, max_hamming)


def _simhash_band_pairs(
    sh: DataFrame, id_col: str, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs from an (id, simhash) table via the
    byte-band candidate join + bit_count verify."""
    bands = _simhash_bands(sh, id_col)
    a, b = bands.alias("a"), bands.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("simhash_a"),
            F.col("b.simhash").alias("simhash_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.expr("bit_count(simhash_a ^ simhash_b)"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_components_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """Star-contracted edge set whose transitive closure EQUALS the
    closure of ``simhash_neardup_pairs`` — the scale-correct input for
    connected components.

    A k-way duplicate group (identical sketches — exact copies, or
    near-identical texts hashing alike) contributes C(k,2) pairs to the
    full pair set but only needs k−1 edges to connect: contract each
    identical-sketch group to a STAR on its min id, then run the banded
    candidate join on one REPRESENTATIVE per distinct sketch. Proof of
    closure equality: same-sketch docs are Hamming-0 ≤ h (star keeps
    them connected); for any cross-sketch pair (a, b) within Hamming h,
    the representatives of their sketch groups carry the same two
    sketches, so the rep-pair edge connects both groups. Measured on a
    10x-amplified corpus (10-way duplicate groups): the full pair set
    is ~100x the contracted edge set, and every components round
    shuffles that factor. Use ``simhash_neardup_pairs`` when the PAIRS
    themselves are the product (q43); use this when only the clusters
    are (q57, corpus funnel). Pass ``sh_df`` (a materialized (id,
    simhash) table) to share the sketch pass with a sibling consumer.
    """
    sh = sh_df if sh_df is not None else persist_tracked(with_simhash(
        _rebalance(docs, id_col), id_col, text_col
    ))
    reps = sh.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    star = (
        sh.join(reps, "simhash")
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )
    rep_pairs = _simhash_band_pairs(
        reps.select(F.col("rep").alias(id_col), "simhash"),
        id_col,
        max_hamming,
    ).select("doc_a", "doc_b")
    return star.unionAll(rep_pairs)


def simhash_chain_hops(
    docs: DataFrame,
    seeds: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_hops: int = 4,
    sh_df: DataFrame | None = None,
    **bfs_kwargs,
) -> DataFrame:
    """(node, root, hop) — EXACTLY ``bfs_hops(simhash_neardup_pairs
    (docs), seeds)`` (the chain-depth audit over the full similarity
    graph), computed on the identical-sketch-CONTRACTED graph so the
    audit never materializes the C(k,2) in-group pair mass.

    Why exact, not an approximation: the hamming-≤h graph's adjacency
    is a pure function of the sketch, so (a) same-sketch docs are
    pairwise adjacent (hamming 0), and (b) any two same-sketch docs
    have IDENTICAL external neighborhoods — every path to one is a
    path to the other, so d(seed, x) = d(seed, rep(x)) for every
    non-seed x, and members of the seed's own group sit at hop 1.
    BFS therefore runs on one representative per distinct sketch
    (rep-pair edges from the banded join — `simhash_components_edges`'
    contraction, hop-preserving instead of closure-preserving), and
    hops expand back to members as ``hop = 0 if node == root else
    greatest(rep_hop, 1)``.

    Contract: ``seeds`` must be identical-sketch group representatives
    (the min id of their group) — component canonicals are (the
    component min IS its own group's min). A non-rep seed would be
    invisible to the contracted graph.

    Scale shape (the r10 probe's one superlinear PLAN, now closed):
    a k-way duplicate group costs k−1 expansion rows instead of C(k,2)
    pair edges × BFS rounds; the contracted edge set is
    duplicate-amplification-INVARIANT, so total shuffle grows with
    distinct sketches + one linear (id → rep) map join, not with the
    pair mass. Use ``bfs_hops`` directly only when the edge set is
    genuinely not sketch-derived.
    """
    from .components import bfs_hops

    sh = sh_df if sh_df is not None else persist_tracked(with_simhash(
        _rebalance(docs, id_col), id_col, text_col
    ))
    groups = sh.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    mem = sh.join(groups, "simhash").select(F.col(id_col), "rep")
    rep_pairs = _simhash_band_pairs(
        groups.select(F.col("rep").alias(id_col), "simhash"),
        id_col,
        max_hamming,
    ).select("doc_a", "doc_b")
    rep_bfs = bfs_hops(
        rep_pairs,
        seeds,
        max_hops=max_hops,
        **bfs_kwargs,
    )
    return (
        mem.join(rep_bfs, mem["rep"] == rep_bfs["node"])
        .select(
            F.col(id_col).alias("node"),
            "root",
            F.when(F.col(id_col) == F.col("root"), F.lit(0))
            .otherwise(F.greatest(F.col("hop"), F.lit(1)))
            .cast("int")
            .alias("hop"),
        )
    )


def minhash_components_edges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Star-contracted MinHash edge set whose transitive closure EQUALS
    the closure of ``minhash_lsh_pairs`` — the scale-correct
    components input (VERDICT r4 item 3).

    SCALE_PROBE r4 measured ``minhash_lsh_pairs`` shuffle growing 39×
    at 10× data on a duplicate-amplified corpus: k identical-signature
    docs collide in every band and emit C(k,2) candidate pairs — the
    same quadratic blowup SimHash had before
    ``simhash_components_edges``. Same contraction: group identical
    signatures (one hash agg over the persisted sig table — exact
    copies AND any near-identical texts sharing all k minima), star
    each group on its min id (k−1 edges), and run the banded candidate
    join over ONE representative per distinct signature.

    Closure equality, same proof shape as SimHash: same-sig docs have
    signature agreement 1 ≥ threshold (the star keeps every pair the
    full set had); a cross-sig pair (a, b) colliding in a band with
    agreement ≥ threshold has representatives carrying the identical
    two signatures, so the rep pair collides in the same band with the
    same agreement and bridges both stars. Rep edges are real-doc
    pairs, so no edge is added that the closure didn't imply.

    Use ``minhash_lsh_pairs`` when the PAIRS are the product (q41);
    use this when only the clusters are. Pass ``sig_df`` (a
    materialized (id, sig) table) to share the sketch pass with a
    sibling consumer (e.g. ``minhash_band_index`` in a bootstrap
    admission batch).
    """
    if sig_df is None:
        sig_df = persist_tracked(with_minhash(
            docs=_rebalance(docs, id_col),
            id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n,
        ))
    # reps fans out 5 ways (star build + the pair pipeline's bands×2 /
    # sig×2): persist so the distinct-signature agg runs once, not per
    # reference — it is |distinct sigs| × (k ints + id), tiny next to
    # the signature table itself.
    reps = persist_tracked(
        sig_df.groupBy("sig").agg(F.min(id_col).alias("rep"))
    )
    star = (
        sig_df.join(reps, "sig")
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )
    rep_pairs = minhash_lsh_pairs(
        docs, id_col, text_col, num_hashes, bands, shingle_n,
        threshold=threshold,
        sig_df=reps.select(F.col("rep").alias(id_col), "sig"),
    ).select("doc_a", "doc_b")
    return star.unionAll(rep_pairs)


# --- incremental near-dup: persistent band index --------------------------


def _bands_with_sig(
    sig_df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, sig, band_idx, band_key) — ``lsh_bands`` keeping the
    signature column alongside each band row, the index layout."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(P.band_key("sig", b, rows_per_band, P.SPARK)).alias(
                    "band_key"
                ),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select(
        F.col(id_col), F.col("sig"), F.explode(entries).alias("band")
    ).select(id_col, "sig", "band.band_idx", "band.band_key")


def minhash_band_index(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """The PERSISTENT near-dup index: (doc_id, sig, band_idx,
    band_key), one row per (band, distinct-signature representative)
    — the near-dup analog of ``incremental_exact_dedup``'s digest
    index (VERDICT r5 item 2).

    Exact dedup already composes across jobs via the digest index;
    without THIS index a new delta must re-sketch and re-band the full
    corpus to find near-duplicates against it. Storing the corpus's
    banded representative table turns that into a delta-proportional
    join (``incremental_minhash_edges``).

    Only REPS ship (one per distinct signature, min id — the
    ``minhash_components_edges`` contraction), so amplified duplicate
    runs cost one row, and index size is |distinct sigs| × bands ×
    (id + k ints + key) — digests-not-documents, like every shuffle in
    this module. Store it parquet; bucketed on (band_idx,
    band_key) (sources.bucketed) the index side of every future delta
    join needs no exchange at all (plan-proved in
    tests/test_incremental_neardup.py). Pass ``sig_df`` (an already-materialized
    (id, sig) table, e.g. a shared scan with the pairs pipeline) to
    skip the sketch pass.
    """
    if sig_df is None:
        sig_df = persist_tracked(with_minhash(
            docs=_rebalance(docs, id_col),
            id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n,
        ))
    reps = sig_df.groupBy("sig").agg(F.min(id_col).alias(id_col))
    return _bands_with_sig(reps, id_col, bands, num_hashes // bands)


def _incremental_minhash_parts(
    delta: DataFrame | None,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sig_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(within-delta edges, cross edges, index_delta) — the split form
    ``admit_against_band_index`` consumes: the components loop only
    needs the WITHIN-delta graph (cross edges merely mark poisoned
    components), which keeps the iterative label table delta-sized
    instead of dragging every touched index rep through each round.
    ``incremental_minhash_edges`` is the unioned public form.

    Near-dup a NEW batch against an existing corpus WITHOUT
    re-reading the corpus: returns ``(edges, index_delta)`` where

    * ``edges`` — (doc_a, doc_b) whose union with the edges of
      previous runs has the SAME transitive closure as a one-shot
      ``minhash_components_edges`` over corpus ∪ delta (unit-proved on
      a two-delta ingest);
    * ``index_delta`` — band rows for the delta's NEW distinct
      signatures: ``index' = index ∪ index_delta``, exactly the digest
      index's update rule.

    Edge set = within-delta star + rep pairs (``minhash_components_
    edges`` on the delta alone) ∪ CROSS edges: delta reps' band rows
    equi-joined against the index on (band_idx, band_key), verified by
    signature agreement ≥ threshold — the same collide-then-verify
    contract as the one-shot path, so decisions are identical.

    Closure equality argument (same shape as the contraction proofs):
    a corpus doc x (sig S, corpus rep r) near a delta doc d — the
    index carries r with S, so (r, rep(d)) collides in the same band
    with the same agreement as (x, d); the corpus star (r, x) and
    delta star (rep(d), d) bridge the rest. A delta sig IDENTICAL to a
    corpus sig agrees at 1.0 ≥ threshold in every band, so the cross
    edge always lands — which is why identical sigs need no new index
    row.

    Scale: the corpus never re-sketches — the index join moves band
    rows (id + k ints per band), delta-side sized after bucket
    pruning; with the index stored bucketed on (band_idx, band_key)
    the index-side exchange disappears entirely (plan-proved unit) and
    the incremental cost is delta-proportional (bench row
    ``incremental_neardup``).
    """
    rows_per_band = num_hashes // bands
    if sig_df is None:
        sig_df = persist_tracked(with_minhash(
            docs=_rebalance(delta, id_col),
            id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n,
        ))
    reps = persist_tracked(
        sig_df.groupBy("sig").agg(F.min(id_col).alias(id_col))
    )
    star = (
        sig_df.withColumnRenamed(id_col, "__m")
        .join(reps.withColumnRenamed(id_col, "rep"), "sig")
        .filter(F.col("__m") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("__m").alias("doc_b"))
    )
    rep_pairs = minhash_lsh_pairs(
        delta, id_col, text_col, num_hashes, bands, shingle_n,
        threshold=threshold, sig_df=reps,
    ).select("doc_a", "doc_b")

    delta_bands = _bands_with_sig(reps, id_col, bands, rows_per_band)
    idx = band_index.select(
        F.col(id_col).alias("__idx_id"),
        F.col("sig").alias("__idx_sig"),
        "band_idx",
        "band_key",
    )
    cross = (
        delta_bands.join(idx, ["band_idx", "band_key"])
        .select(
            F.least("__idx_id", F.col(id_col)).alias("doc_a"),
            F.greatest("__idx_id", F.col(id_col)).alias("doc_b"),
            F.expr(
                P.sig_agreement("__idx_sig", "sig", num_hashes, P.SPARK)
            ).alias("__agree"),
        )
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("__agree") >= threshold)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    index_delta = delta_bands.join(
        band_index.select("sig").distinct(), "sig", "left_anti"
    ).select(id_col, "sig", "band_idx", "band_key")
    return star.unionAll(rep_pairs), cross, index_delta


def incremental_minhash_edges(
    delta: DataFrame | None,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sig_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(edges, index_delta) — the public unioned form of
    ``_incremental_minhash_parts`` (full contract there): edges whose
    union across runs closure-equals one-shot
    ``minhash_components_edges`` over corpus ∪ delta, plus the band
    rows to append (``index' = index ∪ index_delta``)."""
    within, cross, index_delta = _incremental_minhash_parts(
        delta, band_index, id_col, text_col, num_hashes, bands,
        shingle_n, threshold, sig_df,
    )
    return within.unionAll(cross), index_delta


def admit_against_band_index(
    delta: DataFrame,
    band_index: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sketch: str = "minhash",
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Batch ADMISSION against previously-admitted content: returns
    ``(survivors, index_delta)`` — the day-2 ingest decision as one
    batch operator (also the per-micro-batch body of the streaming
    ``corpus_ingest_with_neardup_index`` sink).

    ``sketch`` picks the near-dup notion and the index layout it
    expects, same rule as the funnel: "minhash" (shingle-Jaccard ≥
    ``threshold``, ``minhash_band_index`` rows) or "simhash" (Hamming
    ≤ ``max_hamming``, ``simhash_band_index`` rows).

    Survivor rule (the admission contract):
    * build edges — within-delta star/rep pairs plus, when an index
      exists, cross edges to admitted content
      (``incremental_minhash_edges``);
    * a connected component touching ANY index doc is dropped
      wholesale (its content is already represented in the corpus);
    * a clean component keeps exactly its min-id doc — which IS the
      component label, so no extra aggregation.

    ``index_delta`` holds band rows for every NEW distinct signature
    of ADMITTED components (not just survivors': admitting the sigs of
    a survivor's dropped near-twins makes the future gate strictly
    stronger, and dropped components add nothing — their future copies
    collide with the same index entries that dropped them). Append it:
    ``index' = index ∪ index_delta``.

    ``band_index=None`` bootstraps an empty corpus (pure within-delta
    dedup + a fresh index).

    Assumes delta and index doc-id spaces are DISJOINT (the ingest
    norm — new docs get new ids): cross-edge endpoints are classified
    index-vs-delta by id membership, so a reused id would misattribute
    its edges.

    Scale: everything is delta-proportional — the corpus side is the
    rep-contracted band index (SCALE_PROBE ``incremental_minhash_delta``
    measures shuffle ratio 1.0 at 10x corpus), components iterate on
    the delta's edge subgraph, and the index grows by distinct-sig
    band rows only.
    """
    from .components import connected_components

    if sketch == "minhash":
        kw = dict(
            id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            bands=bands, shingle_n=shingle_n,
        )
        if band_index is None:
            # One sketch pass shared by the edge builder and the index
            # builder (the incremental branch already shares internally).
            sig_df = persist_tracked(with_minhash(
                docs=_rebalance(delta, id_col),
                id_col=id_col, text_col=text_col,
                num_hashes=num_hashes, shingle_n=shingle_n,
            ))
            within = minhash_components_edges(
                delta, threshold=threshold, sig_df=sig_df, **kw
            )
            cross = None
            index_new = minhash_band_index(None, sig_df=sig_df, **kw)
        else:
            within, cross, index_new = _incremental_minhash_parts(
                delta, band_index, threshold=threshold, **kw
            )
    elif sketch == "simhash":
        if band_index is None:
            sh_df = persist_tracked(with_simhash(
                _rebalance(delta, id_col), id_col, text_col
            ))
            within = simhash_components_edges(
                delta, id_col, text_col, max_hamming=max_hamming,
                sh_df=sh_df,
            )
            cross = None
            index_new = simhash_band_index(
                None, id_col, text_col, sh_df=sh_df
            )
        else:
            within, cross, index_new = _incremental_simhash_parts(
                delta, band_index, id_col, text_col,
                max_hamming=max_hamming,
            )
    else:
        raise ValueError(
            f"sketch must be 'minhash' or 'simhash', got {sketch!r}"
        )
    # Components run on the WITHIN-delta graph only — the iterative
    # label table stays delta-sized. Cross edges never enter the loop:
    # a delta component is poisoned iff any member carries a cross
    # edge, which is equivalent (an index node can only ever mark the
    # components it touches, never merge two CLEAN ones into admission
    # — both would be poisoned). within fans out into the loop and the
    # poison/clean joins, clean into survivors + admitted sigs:
    # persist both (release with operators.cache.release_sketch_caches).
    within = persist_tracked(within)
    delta_ids = delta.select(id_col)
    labels = connected_components(within, delta_ids, id_col, broadcast=True)
    if cross is None:
        clean = persist_tracked(delta.join(labels, id_col))
    else:
        touched = (
            cross.select(F.col("doc_a").alias(id_col))
            .union(cross.select(F.col("doc_b").alias(id_col)))
            .join(delta_ids, id_col, "left_semi")
            .distinct()
        )
        poisoned = (
            labels.join(touched, id_col)
            .select("component_id")
            .distinct()
        )
        clean = persist_tracked(
            delta.join(labels, id_col).join(
                poisoned, "component_id", "left_anti"
            )
        )
    survivors = clean.filter(
        F.col(id_col) == F.col("component_id")
    ).drop("component_id")
    index_delta = index_new.join(
        clean.select(id_col), id_col, "left_semi"
    )
    return survivors, index_delta


def _simhash_bands(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, simhash, band_idx, band_val) — the 4 byte-bands of each
    32-bit sketch, simhash kept alongside (the index layout)."""
    return sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(
                            f"CAST(floor(simhash / {256 ** i}) AS BIGINT)"
                            " % 256"
                        ).alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")


def simhash_band_index(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """The SimHash twin of ``minhash_band_index``: (doc_id, simhash,
    band_idx, band_val), one row per (byte-band, distinct-sketch
    representative) — 4 rows of (id + long + two small ints) per
    distinct sketch, the persistent corpus artifact for incremental
    Hamming-radius near-dup. Same contraction, same storage advice
    (parquet; bucketed on (band_idx, band_val) the delta join's index
    side needs no exchange)."""
    if sh_df is None:
        sh_df = persist_tracked(with_simhash(
            _rebalance(docs, id_col), id_col, text_col
        ))
    reps = sh_df.groupBy("simhash").agg(F.min(id_col).alias(id_col))
    return _simhash_bands(reps, id_col)


def _incremental_simhash_parts(
    delta: DataFrame | None,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sh_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(within, cross, index_delta) split — see
    ``_incremental_minhash_parts`` for why admission wants the parts.

    ``incremental_minhash_edges`` for the SimHash/Hamming notion of
    "near": (edges, index_delta) such that the union of per-run edges
    has the same transitive closure as a one-shot
    ``simhash_components_edges`` over corpus ∪ delta (same proof
    shape: reps carry identical sketches, Hamming-0 bridges stars, the
    byte-band collide + ``bit_count(xor)`` verify makes identical
    decisions in both paths).

    Pick by the same rule as the batch operators: MinHash/Jaccard when
    shingle OVERLAP defines near; SimHash/Hamming when token-vote
    similarity does (the funnel's default)."""
    if sh_df is None:
        sh_df = persist_tracked(with_simhash(
            _rebalance(delta, id_col), id_col, text_col
        ))
    reps = persist_tracked(
        sh_df.groupBy("simhash").agg(F.min(id_col).alias(id_col))
    )
    star = (
        sh_df.withColumnRenamed(id_col, "__m")
        .join(reps.withColumnRenamed(id_col, "rep"), "simhash")
        .filter(F.col("__m") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("__m").alias("doc_b"))
    )
    rep_pairs = _simhash_band_pairs(reps, id_col, max_hamming).select(
        "doc_a", "doc_b"
    )
    delta_bands = _simhash_bands(reps, id_col)
    idx = band_index.select(
        F.col(id_col).alias("__idx_id"),
        F.col("simhash").alias("__idx_sh"),
        "band_idx",
        "band_val",
    )
    cross = (
        delta_bands.join(idx, ["band_idx", "band_val"])
        .select(
            F.least("__idx_id", F.col(id_col)).alias("doc_a"),
            F.greatest("__idx_id", F.col(id_col)).alias("doc_b"),
            F.expr("bit_count(__idx_sh ^ simhash)").alias("__h"),
        )
        .filter(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("__h") <= max_hamming)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    index_delta = delta_bands.join(
        band_index.select("simhash").distinct(), "simhash", "left_anti"
    ).select(id_col, "simhash", "band_idx", "band_val")
    return star.unionAll(rep_pairs), cross, index_delta


def incremental_simhash_edges(
    delta: DataFrame | None,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sh_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(edges, index_delta) — public unioned form of
    ``_incremental_simhash_parts``; the SimHash/Hamming twin of
    ``incremental_minhash_edges``."""
    within, cross, index_delta = _incremental_simhash_parts(
        delta, band_index, id_col, text_col, max_hamming, sh_df
    )
    return within.unionAll(cross), index_delta
