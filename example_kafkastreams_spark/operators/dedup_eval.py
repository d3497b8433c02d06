"""Dedup-candidate evaluation — measured precision/recall of an LSH
blocking scheme against exact ground truth on a sample.

Near-dup pipelines tune (num_hashes, bands, threshold) by the LSH
S-curve, but the curve is an i.i.d. idealization — real corpora have
correlated shingles and skewed lengths, so production practice (e.g.
Lee et al. 2022's dedup ablations) is to MEASURE the blocking: on a
deterministic sample, compare the band-collision candidate set against
the exact-Jaccard truth set and report precision / recall / F1. A
recall drop after retuning bands is a silent-data-loss bug this
harness turns into a number — the retrieval twin is
``retrieval.retrieval_eval``.

Shape: everything is restricted to the ``id % sample_mod == 0`` sample
FIRST, so cost is sample-bounded by construction (the corpus never
joins). Truth generation is exact WITHOUT an all-pairs scan AND
without the naive postings self-join's common-shingle quadratic
fan-out: prefix filtering (Bayardo, Ma & Srikant 2007, "Scaling Up
All Pairs Similarity Search"). Under any global total order on
tokens, a pair with Jaccard ≥ t has overlap o ≥ ceil(t·|A|); if the
smallest COMMON token sat outside A's first ``|A| − ceil(t·|A|) + 1``
tokens, all o common tokens would fit in the ``ceil(t·|A|) − 1``-slot
suffix — contradiction. So the smallest common token lies in BOTH
docs' prefixes, and the pair-generating self-join only needs the
prefix postings. We order tokens by ascending GLOBAL frequency (ties
by token), putting the rarest shingles in the prefix — the frequent
"of the X" shingles that caused the fan-out never enter the join.
The threshold is relaxed by 1e-6 when sizing prefixes because the
verify step compares ``round(jaccard, 6) ≥ t`` (i.e. admits
``jac ≥ t − 5e-7``), and ``t'·|A|`` is rounded to 9 decimals before
``ceil`` so an IEEE product epsilon above an exact integer cannot
shorten a prefix. Exact distinct-shingle Jaccard then verifies the
surviving pairs. Candidates are the same band collisions
``minhash_lsh_pairs`` compares. Metrics are exact integer counts with
single IEEE divisions (zero-denominator guarded to 0.0 in both
engines) — bit-reproducible, hash-checked by q41's ``eval`` branch
(the DuckDB oracle keeps the naive postings formulation; prefix
filtering is lossless, so the results are identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import portable as P
from .cache import persist_tracked
from .neardup import lsh_bands, with_minhash, with_shingles

__all__ = ["candidate_eval"]


def candidate_eval(
    docs: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    sample_mod: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Three rows — (metric, n, value):

    - ``('precision', |candidates|, hit/|candidates|)``
    - ``('recall',    |truth|,      hit/|truth|)``
    - ``('f1',        |hit|,        2·hit/(|truth|+|candidates|))``

    where truth = sample pairs with exact distinct-shingle Jaccard ≥
    ``threshold`` and candidates = the sample's band-collision pairs.
    """
    # Spread the sample across the cluster BEFORE shingling: a small
    # parquet can arrive as one input split, and the shingle transform
    # is the per-row hot loop — without this every downstream
    # recomputation of the postings runs on a single core.  Explicit
    # partition count (the _rebalance discipline): AQE would coalesce
    # a count-less repartition of a small sample back to one task.
    slots = docs.sparkSession.sparkContext.defaultParallelism
    sample = docs.filter(F.col(id_col) % sample_mod == 0).repartition(
        slots, F.col(id_col)
    )
    # One persisted shingle pass feeds ALL downstream references (the
    # postings/freq sides, the exact-Jaccard verify's two aliases, and
    # the MinHash signature) — without it each reference re-runs the
    # tokenize+slice tree over the sample (with_shingles doc).
    sdocs = persist_tracked(
        with_shingles(
            sample, id_col=id_col, text_col=text_col, shingle_n=shingle_n
        )
    )
    # __sz rides the explode map-side (post rows per doc = |sh| by
    # construction) instead of a count window that would re-shuffle
    # the postings by doc just to count them.
    post = sdocs.select(
        F.col(id_col),
        F.size("sh").alias("__sz"),
        F.explode("sh").alias("tok"),
    )
    # Prefix filtering: rank each doc's shingles by ascending global
    # frequency (ties by token) and keep only the first
    # |d| − ceil(t'·|d|) + 1 — every pair with round(J,6) ≥ t shares
    # its smallest common token within both prefixes (see module doc).
    # freq is sample-bounded (distinct sample shingles) — the module's
    # stated cost regime — so it broadcasts explicitly; without the
    # hint the postings re-shuffle by token for a sort-merge join.
    freq = post.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    t_relaxed = float(threshold) - 1e-6
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.round(F.lit(t_relaxed) * F.col("__sz"), 9))
        + F.lit(1)
    )
    # persisted: pref feeds BOTH sides of the pair-generating self-join
    # below — unpersisted, the join+window tree executes once per side
    # (measured: the two duplicated 92k/120k-record stages in q41's
    # eval branch).
    pref = persist_tracked(
        post.join(F.broadcast(freq), "tok")
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__f", "tok")
            ),
        )
        .filter(F.col("__r") <= prefix_len)
        .select(F.col(id_col), "tok")
    )
    pa = pref.select(F.col(id_col).alias("doc_a"), "tok")
    pb = pref.hint("shuffle_hash").select(
        F.col(id_col).alias("doc_b"), "tok"
    )
    # Explicit repartition between pair generation and verification:
    # the exact-Jaccard filter below is the per-PAIR hot loop (two
    # shingle-array intersects per candidate), and AQE coalesces the
    # small distinct() output to one task — which would serialize the
    # whole verify stage onto one core (measured 7.9 s -> ~1 s).
    tcand = (
        pa.join(pb, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .repartition(slots, "doc_a")
    )
    sa = sdocs.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("__sa"))
    sb = sdocs.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("__sb"))
    jac = (
        f"CAST({P.size_(P.intersect_('__sa', '__sb', P.SPARK), P.SPARK)}"
        " AS DOUBLE)"
        f" / CAST({P.union_size('__sa', '__sb', P.SPARK)} AS DOUBLE)"
    )
    truth = (
        tcand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.expr(P.round_dbl(jac, 6, P.SPARK)) >= F.lit(float(threshold))
        )
        .select("doc_a", "doc_b")
    )

    # Candidate side: MinHash signatures are strictly per-document
    # (min over the doc's own shingle hashes), so a caller that
    # already sketched the CORPUS (q41's shared persisted signature
    # scan) can pass it as ``sig_df`` and the sample's signatures are
    # a filter of it — the sample is never re-shingled or re-hashed
    # for banding (guide §2.4: share one exchange; the truth side
    # still uses the sample shingle persist it needs anyway).
    if sig_df is not None:
        sig = sig_df.filter(F.col(id_col) % sample_mod == 0)
    else:
        sig = with_minhash(
            sample, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_n=shingle_n, shingle_df=sdocs,
        )
    bdf = lsh_bands(sig, id_col, bands, num_hashes // bands)
    ba = bdf.alias("ba")
    bb = bdf.hint("shuffle_hash").alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band_idx") == F.col("bb.band_idx"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("doc_a"),
            F.col(f"bb.{id_col}").alias("doc_b"),
        )
        .distinct()
    )

    agg = (
        truth.withColumn("__t", F.lit(1))
        .join(
            cand.withColumn("__c", F.lit(1)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .agg(
            # outer coalesce: SUM over ZERO rows is NULL in both
            # engines — an empty eval must read 0, not NULL
            F.coalesce(
                F.sum(F.coalesce(F.col("__t"), F.lit(0))), F.lit(0)
            ).alias("n_truth"),
            F.coalesce(
                F.sum(F.coalesce(F.col("__c"), F.lit(0))), F.lit(0)
            ).alias("n_cand"),
            F.coalesce(
                F.sum(
                    F.coalesce(F.col("__t"), F.lit(0))
                    * F.coalesce(F.col("__c"), F.lit(0))
                ),
                F.lit(0),
            ).alias("n_hit"),
        )
    )

    def ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            num.cast("double") / den.cast("double")
        )

    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("precision").alias("metric"),
                    F.col("n_cand").alias("n"),
                    ratio(F.col("n_hit"), F.col("n_cand")).alias("value"),
                ),
                F.struct(
                    F.lit("recall").alias("metric"),
                    F.col("n_truth").alias("n"),
                    ratio(F.col("n_hit"), F.col("n_truth")).alias("value"),
                ),
                F.struct(
                    F.lit("f1").alias("metric"),
                    F.col("n_hit").alias("n"),
                    ratio(
                        F.lit(2) * F.col("n_hit"),
                        F.col("n_truth") + F.col("n_cand"),
                    ).alias("value"),
                ),
            )
        ).alias("m")
    ).select("m.metric", "m.n", "m.value")
