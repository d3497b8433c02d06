"""BM25 full-text retrieval — the ranked-search member of the text
family (TF-IDF's retrieval twin; Robertson & Spärck Jones BM25, the
Okapi formulation with the standard +1 idf floor so scores stay
positive even for terms in most documents).

Scale shape — classic inverted-index scoring as ONE term-keyed join:

* the postings table (doc, term, tf) aggregates map-side per
  partition before its one (doc, term) exchange (tf is additive);
* the query set is tiny by contract, so the exploded (query, term)
  table BROADCASTS — the corpus never shuffles for retrieval;
* postings prune to CANDIDATES (docs sharing >= 1 query term) via the
  broadcast semi join BEFORE any scoring work, so the per-(query,
  doc) score aggregation shuffles candidate-sized data (sum of the
  query terms' posting lists), never corpus-sized;
* df for query terms is computed from the candidate postings
  themselves (df(t) = |postings of t|, and the candidate set contains
  every posting of every query term) — a handful of rows, broadcast
  back; the corpus-wide doc count / average length is a 1-row
  aggregate cross-joined in (the q55 ``CROSS JOIN n`` pattern).

Cross-engine determinism (the registry rules): every per-term score
is one fixed IEEE expression tree over (tf, df, dl, N, tot_dl) —
identical operand order in the DuckDB twin — and the per-(query, doc)
sum folds the matched terms' scores IN TERM ORDER, left to right
(``F.aggregate`` over the term-sorted struct array ⇔ DuckDB
``list_reduce(list_prepend(0.0, list(ts ORDER BY term)))``), so the
double is bit-identical no matter how Spark partitions the
aggregation. Ranks tie-break on doc id.

Reference parity: the reference (a Kafka Streams clickstream demo)
has no text-retrieval surface; this module is part of the §2.9
LLM-pipeline extension the survey commits to, built from public
knowledge (Robertson & Spärck Jones BM25; Cormack, Clarke & Büttcher
2009 reciprocal rank fusion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import portable as P
from ..streaming.sinks import (
    INGEST_PARTS,
    leaf_sink,
    read_leaves,
    split_frontier,
    swap_tree,
    write_json,
    write_leaf,
)

BM25_K1 = 1.2
BM25_B = 0.75

_PDELTA = "postings_delta"
# legacy leaf dir from the two-write sink era — compaction still
# prunes it, nothing writes or reads it (stat increments derive from
# the postings leaves themselves; see _delta_leaf_stats)
_SDELTA = "stats_delta"


def _delta_leaf_stats(spark, path: str) -> list:
    """Per-(ingest_run, ingest_batch) corpus-stat increments (n_docs,
    tot_dl) derived from the ``postings_delta`` leaves THEMSELVES —
    the one source of truth, so a batch's postings and its stat
    increments commit in the same atomic dynamic-overwrite write and
    no crash can leave postings whose n_docs/tot_dl were never
    incremented (the old two-write sink's window). Every document has
    at least one posting (whitespace split of "" is [""]), and every
    posting row of a doc carries the same dl, so per leaf:
    n_docs = |distinct doc_id|, tot_dl = Σ dl over distinct docs.
    Delta-proportional: reads (run, batch, doc_id, dl) columns of the
    small delta tree only, never the base index."""
    import os

    delta = read_leaves(spark, os.path.join(path, _PDELTA))
    if delta is None:
        return []
    return (
        delta.select("ingest_run", "ingest_batch", "doc_id", "dl")
        .dropDuplicates(["ingest_run", "ingest_batch", "doc_id"])
        .groupBy("ingest_run", "ingest_batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("tot_dl"),
        )
        .collect()
    )


def bm25_top_docs(
    docs: DataFrame,
    queries: list[str],
    top_k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query, doc_id, rank, score) — top-``top_k`` documents per query
    by BM25, whitespace tokens, ranks 1..top_k (ties → lower doc id).

    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), summed over q's
    DISTINCT terms present in d, in term order.
    """
    spark = docs.sparkSession
    qt = _query_terms_frame(spark, queries)
    terms = sorted({t for q in queries for t in q.split()})
    # candidate pruning happens BELOW the tf fold: the query term set
    # is a driver-known literal, so each doc's token array filters to
    # the query terms MAP-SIDE and the run-length fold
    # (text_chunks.term_counts) counts the survivors — the (doc, term)
    # tf table is born already-unique with no exchange at all; the
    # first shuffle in the plan is the candidate-sized score fold.
    from .text_chunks import term_counts

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("tot_dl"),
    )
    qtf = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(
            term_counts(F.filter("toks", lambda t: t.isin(terms)))
        ).alias("__tc"),
    ).select(
        "doc_id", "dl",
        F.col("__tc.term").alias("term"),
        F.col("__tc.tf").alias("tf"),
    )
    dfq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    scored = (
        qtf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query", "doc_id", "term", _bm25_term_score(k1, b).alias("ts")
        )
    )
    return _fold_and_rank(scored, top_k)


def _bm25_postings(docs: DataFrame, id_col: str, text_col: str):
    """((doc_id, dl, term, tf) postings, 1-row (n_docs, tot_dl) stats)
    — shared by the in-session scorer and the index builder. The per-
    doc term counts fold MAP-SIDE (``text_chunks.term_counts`` — a
    run-length aggregate over the sorted token array), so the corpus-
    sized (doc, term) table is born already-unique instead of crossing
    a hash exchange just to be counted (guide §2.3/§2.4)."""
    from .text_chunks import term_counts

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("toks"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("tot_dl"),
    )
    tf = toks.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode(term_counts("toks")).alias("__tc"),
    ).select(
        "doc_id", "dl",
        F.col("__tc.term").alias("term"),
        F.col("__tc.tf").alias("tf"),
    )
    return tf, stats


def _query_terms_frame(spark, queries: list[str]) -> DataFrame:
    # order-preserving dedupe: a repeated query string must not emit
    # duplicate (query, term) rows — they would double every term's
    # score for that query in the fold
    return spark.createDataFrame(
        [
            (q, t)
            for q in dict.fromkeys(queries)
            for t in sorted(set(q.split()))
        ],
        "query string, term string",
    )


def _bm25_term_score(k1: float, b: float):
    """The per-term Okapi score as ONE fixed expression tree over
    columns (tf, dl, df_count, n_docs, tot_dl) — shared verbatim by
    the in-session path and the stored-index path, so a loaded index
    serves bit-identical scores."""
    avgdl = F.col("tot_dl") / F.col("n_docs")
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_count") + F.lit(0.5))
        / (F.col("df_count") + F.lit(0.5))
    )
    tfnorm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0) - F.lit(b) + (F.lit(b) * F.col("dl")) / avgdl)
    )
    return idf * tfnorm


def _fold_and_rank(scored: DataFrame, top_k: int) -> DataFrame:
    """Term-sorted left-to-right '+' fold per (query, doc) (bit-stable
    under any partitioning; terms are unique per pair), then rank by
    (score DESC, doc_id)."""
    agg = scored.groupBy("query", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("term", "ts"))),
                lambda s: s["ts"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query", "doc_id", "rank", "score")
    )


def bm25_index_write(
    docs: DataFrame,
    path: str,
    num_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Persist the inverted index — the retrieval twin of the ANN
    build/serve split: tokenize/aggregate the 100 TB corpus ONCE,
    serve queries from the artifact forever.

    Layout under ``path``:

    * ``postings/__bucket=k/`` — (term, doc_id, dl, tf, df_count)
      parquet, partitioned by a DETERMINISTIC term bucket (the shard
      writers' first-8-md5-hex-mod-n formula, on the term), rows
      term-sorted within each bucket. A query touches only its own
      terms' buckets (partition pruning) and inside them only the
      row groups whose term min/max straddle a query term — the
      parquet analog of postings-list seek.
    * ``stats.json`` — corpus constants (n_docs, tot_dl, num_buckets).

    ``df_count`` is computed per term at BUILD time and denormalized
    onto every posting row, so serving needs no corpus-wide aggregate
    — the one piece of global state a posting needs rides with it."""
    import os

    from .packing import shard_assignment

    tf, stats = _bm25_postings(docs, id_col, text_col)
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    rows = shard_assignment(
        tf.join(dfq, "term"), num_buckets, key_col="term"
    ).withColumnRenamed("__shard", "__bucket")
    (
        rows.drop("__shard_ord")
        .repartition(num_buckets, F.col("__bucket"))
        .sortWithinPartitions("__bucket", "term")
        .write.mode("overwrite")
        .partitionBy("__bucket")
        .parquet(os.path.join(path, "postings"))
    )
    st = stats.first()
    write_json(
        os.path.join(path, "stats.json"),
        {
            "n_docs": int(st["n_docs"]),
            "tot_dl": int(st["tot_dl"]),
            "num_buckets": num_buckets,
        },
    )


def bm25_index_query(
    spark,
    path: str,
    queries: list[str],
    top_k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``top_k`` docs per query against the stored inverted index
    — bit-identical to ``bm25_top_docs`` on the indexed corpus (shared
    ``_bm25_term_score`` expression + shared fold; df/n_docs/tot_dl
    are the same numbers the in-session path derives).

    Serving shape: the query's term set prunes the scan twice before
    any row is read — bucket partitions (computed driver-side with
    the same md5 formula) and an ``In(term)`` pushed filter for
    row-group skipping inside them. Everything after the scan is
    candidate-sized.

    When ``bm25_index_append_sink`` has ingested (a ``postings_delta``
    tree exists), incremental serving is EXACT, not stale: df is a
    pure function of the postings themselves, so it recomputes over
    the pruned base ∪ delta candidates (the pruned read keeps EVERY
    posting of each query term), and the corpus constants add the
    per-batch increments derived from the delta postings leaves
    themselves (``_delta_leaf_stats`` — same atomic write as the
    postings, so no crash window) — minus those the ``folded_runs``
    watermark says compaction already merged into ``stats.json``. The candidate union dedupes on (term, doc_id),
    which is a no-op on clean stores and makes every compaction
    crash-window superset serve exactly (see ``bm25_index_compact``)."""
    import hashlib
    import json
    import os

    with open(os.path.join(path, "stats.json")) as f:
        st = json.load(f)
    terms = sorted({t for q in queries for t in q.split()})
    buckets = sorted(
        {
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            % st["num_buckets"]
            for t in terms
        }
    )

    def pruned(df):
        return df.filter(F.col("__bucket").isin(buckets)).filter(
            F.col("term").isin(terms)
        )

    base = pruned(spark.read.parquet(os.path.join(path, "postings")))
    delta = read_leaves(spark, os.path.join(path, _PDELTA))
    n_docs, tot_dl = st["n_docs"], st["tot_dl"]
    core = ["term", "doc_id", "dl", "tf"]
    if delta is not None:
        cand = (
            base.select(*core)
            .unionByName(pruned(delta).select(*core))
            .dropDuplicates(["term", "doc_id"])
        )
        dfq = cand.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
        postings = cand.join(F.broadcast(dfq), "term")
        folded = st.get("folded_runs", {})
        for r in _delta_leaf_stats(spark, path):
            if int(r["ingest_batch"]) > folded.get(r["ingest_run"], -1):
                n_docs += int(r["n_docs"])
                tot_dl += int(r["tot_dl"])
    else:
        postings = base
    qt = _query_terms_frame(spark, queries)
    scored = (
        postings.join(F.broadcast(qt), "term")
        .withColumns(
            {
                "n_docs": F.lit(n_docs),
                "tot_dl": F.lit(tot_dl),
            }
        )
        .select(
            "query", "doc_id", "term", _bm25_term_score(k1, b).alias("ts")
        )
    )
    return _fold_and_rank(scored, top_k)


def bm25_index_append_sink(
    spark,
    path: str,
    run_id: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming inverted-index maintenance — the retrieval member of
    the ingest-sink family: a ``foreachBatch`` function that tokenizes
    each micro-batch of newly-admitted documents into postings and
    appends them under
    ``postings_delta/ingest_run=…/ingest_batch=…/__bucket=…`` (the
    base index's bucket formula, read from ``stats.json``). The
    batch's (n_docs, tot_dl) stat increment is NOT written separately
    — serving and compaction derive it from the postings leaf itself
    (``_delta_leaf_stats``), so a batch commits in ONE atomic
    dynamic-overwrite write and there is no crash window where the
    postings exist but the corpus constants were never incremented.

    Unlike the ANN sink's frozen parameters, incremental BM25 serving
    is EXACT: ``bm25_index_query`` recomputes df from the pruned
    base ∪ delta postings and adds the derived stat increments, so a
    serve after N appends equals a full rebuild bit-for-bit
    (golden-pinned). Postings land as leaves of ``streaming.sinks``'s
    replay protocol. Ingesting the SAME document id twice across
    batches is the upstream dedup gate's job (as for every index
    here); the serve-side (term, doc_id) dedup keeps even that case
    from double-scoring."""
    import json
    import os

    from .packing import shard_assignment

    with open(os.path.join(path, "stats.json")) as f:
        nb = json.load(f)["num_buckets"]

    def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
        tf, _ = _bm25_postings(batch_df, id_col, text_col)
        rows = (
            shard_assignment(tf, nb, key_col="term")
            .drop("__shard_ord")
            .withColumnRenamed("__shard", "__bucket")
            # schema-compatible with the base tree; serving ignores
            # stored df whenever a delta exists
            .withColumn("df_count", F.lit(None).cast("long"))
        )
        write_leaf(
            rows,
            os.path.join(path, _PDELTA),
            token,
            batch_id,
            (*INGEST_PARTS, "__bucket"),
        )

    return leaf_sink(path, write, run_id)


def bm25_index_compact(spark, path: str) -> None:
    """Fold the append sink's per-batch delta leaves into a fresh base
    tree with recomputed per-term df, merging their stat increments
    into ``stats.json`` — run between runs so the served scan stays a
    few large bucket files. The base ``postings`` tree is published by
    ``streaming.sinks.swap_tree`` and each run's frontier leaf is held
    back (the compaction rules in ``streaming.sinks``).

    Every intermediate state serves EXACTLY: a folded leaf not yet
    pruned duplicates postings that dedupe at serve on (term, doc_id),
    and its stats are skipped by the ``folded_runs`` watermark, written
    to ``stats.json`` after the promote and before the prune. A dead
    run's frontier leaf never folds, so once any append happened the
    delta tree (and the serve-side df recompute) persists; the
    recomputed base df is a fast-path artifact only."""
    import json
    import os
    import shutil

    from .packing import shard_assignment

    with swap_tree(os.path.join(path, "postings")) as (base, tmp):
        local = os.path.dirname(base)
        sdelta = os.path.join(local, _SDELTA)
        pdelta = os.path.join(local, _PDELTA)
        with open(os.path.join(local, "stats.json")) as f:
            st = json.load(f)
        folded = dict(st.get("folded_runs", {}))

        def prune(run, batch):
            for root in (pdelta, sdelta):
                shutil.rmtree(
                    os.path.join(
                        root, f"ingest_run={run}", f"ingest_batch={batch}"
                    ),
                    ignore_errors=True,
                )

        # stat increments derive from the postings leaves themselves —
        # one source of truth with the serve path (_delta_leaf_stats);
        # a leaf a prior crash left marked-folded but unpruned is
        # pruned now
        leaves = {}
        for r in _delta_leaf_stats(spark, local):
            run, batch = r["ingest_run"], int(r["ingest_batch"])
            if batch <= folded.get(run, -1):
                prune(run, batch)
            else:
                leaves[run, batch] = (int(r["n_docs"]), int(r["tot_dl"]))
        fold, held = split_frontier(leaves)
        if not fold:
            return
        core = ["term", "doc_id", "dl", "tf"]
        merged = (
            spark.read.parquet(base)
            .select(*core)
            .unionByName(read_leaves(spark, pdelta, held).select(*core))
            .dropDuplicates(["term", "doc_id"])
        )
        dfq = merged.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
        keyed = shard_assignment(
            merged.join(dfq, "term"), st["num_buckets"], key_col="term"
        ).withColumnRenamed("__shard", "__bucket")
        (
            keyed.drop("__shard_ord")
            .repartition(st["num_buckets"], F.col("__bucket"))
            .sortWithinPartitions("__bucket", "term")
            .write.partitionBy("__bucket")
            .parquet(tmp)
        )
    for run, batch in fold:
        n, dl = leaves[run, batch]
        st["n_docs"] += n
        st["tot_dl"] += dl
        folded[run] = max(folded.get(run, -1), batch)
    st["folded_runs"] = folded
    write_json(os.path.join(local, "stats.json"), st)
    for run, batch in fold:
        prune(run, batch)


def term_overlap_top_docs(
    docs: DataFrame,
    queries: list[str],
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query, doc_id, rank, hits) — the integer-exact lexical
    baseline ranker: total occurrences of the query's distinct terms
    in the document (ties → lower doc id). Same inverted-index shape
    as BM25 minus the statistics; exists mostly as the second voice
    for ``rrf_fuse`` and as an exact-arithmetic cross-check."""
    # the query term set is a driver literal, so each doc's token
    # array filters to it MAP-SIDE and the run-length fold
    # (text_chunks.term_counts) counts the survivors — the corpus-
    # sized (doc, term) table never crosses an exchange; the first
    # shuffle is the candidate-sized per-(query, doc) sum.
    from .text_chunks import term_counts

    spark = docs.sparkSession
    terms = sorted({t for q in queries for t in q.split()})
    tf = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            term_counts(
                F.filter(
                    F.split(F.col(text_col), " "),
                    lambda t: t.isin(terms),
                )
            )
        ).alias("__tc"),
    ).select(
        "doc_id",
        F.col("__tc.term").alias("term"),
        F.col("__tc.tf").alias("tf"),
    )
    qt = _query_terms_frame(spark, queries)
    agg = (
        tf.join(F.broadcast(qt), "term")
        .groupBy("query", "doc_id")
        .agg(F.sum("tf").alias("hits"))
    )
    w = Window.partitionBy("query").orderBy(F.desc("hits"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query", "doc_id", "rank", "hits")
    )


RRF_K = 60


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = RRF_K,
    top_k: int | None = None,
) -> DataFrame:
    """(query, doc_id, rank, score) — reciprocal rank fusion (Cormack
    et al. 2009): score(q, d) = Σ_r 1/(k + rank_r(d)), summed over the
    rankers that listed d for q. Ranker-agnostic: each input is any
    (query, doc_id, rank) frame — BM25, term overlap, an ANN ranking
    mapped onto doc ids — making this the hybrid-retrieval combiner.

    Scale shape: inputs are top-k-bounded PER QUERY by construction
    (they are rankings), so the union and the (query, doc) aggregation
    are candidate-sized — never corpus-sized — regardless of corpus
    growth. Determinism: contributions fold in RANKER-INDEX order,
    left to right (the BM25 term-fold discipline), and the fused rank
    tie-breaks on doc id; with ≤ a handful of rankers the double is
    bit-stable under any partitioning."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    tagged = None
    for i, r in enumerate(rankings):
        t = r.select(
            "query",
            "doc_id",
            F.lit(i).alias("ridx"),
            (F.lit(1.0) / (F.lit(k) + F.col("rank"))).alias("contrib"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    agg = tagged.groupBy("query", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ridx", "contrib"))),
                lambda s: s["contrib"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    out = agg.withColumn("rank", F.row_number().over(w))
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out.select("query", "doc_id", "rank", "score")


def all_terms_qrels(
    docs: DataFrame,
    queries: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(query, doc_id) binary relevance labels: a document is relevant
    to a query iff it contains EVERY distinct query term — the
    deterministic boolean-AND oracle retrieval evals use when no human
    judgments exist. The query term sets are driver literals, so the
    AND closes ENTIRELY MAP-SIDE: one corpus scan computes every
    query's matched-distinct-term count against its literal term array
    (array_intersect over the doc's distinct tokens), a literal
    explode stacks the per-query rows, and the equality filter prunes
    — zero exchanges, no join, no aggregation."""
    dtoks = F.array_distinct(F.split(F.col(text_col), " "))
    arms = [
        F.struct(
            F.lit(q).alias("query"),
            (
                F.size(
                    F.array_intersect(
                        dtoks,
                        F.array(
                            *[F.lit(t) for t in sorted(set(q.split()))]
                        ),
                    )
                )
                == F.lit(len(set(q.split())))
            ).alias("__all"),
        )
        for q in dict.fromkeys(queries)
    ]
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array(*arms)).alias("__q"),
        )
        .filter(F.col("__q.__all"))
        .select(F.col("__q.query").alias("query"), "doc_id")
    )


def ndcg_tables(k: int) -> tuple[list[float], list[float]]:
    """(gains, ideal) discount tables for binary-relevance nDCG@k:
    gains[r-1] = 1/log2(r+1) and ideal[m-1] = the left-to-right fold
    of the first m gains (the ideal DCG when m relevant docs exist).
    Computed ONCE driver-side so both engines consume identical
    literals — log2 never evaluates inside a query."""
    import math

    gains = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    ideal, acc = [], 0.0
    for g in gains:
        acc = acc + g
        ideal.append(acc)
    return gains, ideal


def retrieval_eval(
    results: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-quality metrics of a retrieval run against binary
    relevance labels — the eval harness a retrieval deployment runs
    per release. One row per query:

        (query, n_rel, hits_at_k, p_at_k, recall_at_k, mrr_at_k,
         ap_at_k, ndcg_at_k)

    Every metric is EXACT arithmetic over bit-identical operands:
    p/recall/mrr/AP are single IEEE divisions of exact integer counts
    (AP's sum folds precision terms in rank order), and nDCG's log2
    discounts — the one libm-dependent piece — are COMPILE-TIME
    literals: gains 1/log2(r+1) and the cumulative ideal-DCG prefix
    sums are computed once in Python for ranks 1..k and enter both
    engines as exact string-cast double literals (the vec_literal
    convention), so DCG is a rank-ordered fold of identical constants
    and nDCG one IEEE division. The query universe is results ∪
    qrels: a query
    with no relevant document scores 0 across the board, and a JUDGED
    query the run never returned (or returned only past rank k) also
    emits a zero row — the standard IR convention; dropping it would
    inflate any mean over the harness's rows. Duplicate (query, doc)
    label rows are deduplicated defensively (they would multiply join
    rows and push precision past 1.0).

    Scale shape: ``results`` is already top-k-bounded (|queries|·k
    rows); the one corpus-sized input is ``qrels``, which reduces to
    per-query counts (n_rel) in a partial-aggregated groupBy before
    the broadcast-sized join with the per-query metric rows."""
    res = results.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("doc_id"),
        F.col(rank_col).alias("rank"),
    )
    rel = qrels.select(
        F.col(query_col).alias("query"),
        F.col(doc_col).alias("doc_id"),
    ).distinct().withColumn("__rel", F.lit(1))
    universe = (
        results.select(F.col(query_col).alias("query"))
        .union(rel.select("query"))
        .distinct()
    )
    n_rel = rel.groupBy("query").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    flagged = res.join(rel, ["query", "doc_id"], "left").select(
        "query", "rank", F.coalesce("__rel", F.lit(0)).alias("__rel")
    )
    # cumulative relevant count at each rank (ranks are unique per
    # query, so the running sum is deterministic)
    w = (
        Window.partitionBy("query")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = flagged.withColumn("__cum", F.sum("__rel").over(w))
    # nDCG discount table as compile-time constants: gains 1/log2(r+1)
    # and the cumulative ideal-DCG prefix fold, computed ONCE here and
    # spliced as exact string-cast literals (every engine parses them
    # through strtod) — libm never runs inside either engine
    gains, ideal = ndcg_tables(k)
    gains_arr = F.expr(P.vec_literal(gains, P.SPARK))
    ideal_arr = F.expr(P.vec_literal(ideal, P.SPARK))
    per_q = cum.groupBy("query").agg(
        F.sum("__rel").alias("hits_at_k"),
        F.min(F.when(F.col("__rel") == 1, F.col("rank"))).alias(
            "__first"
        ),
        # AP numerator: precision@r at each RELEVANT rank r, folded in
        # rank order (collect -> sort -> left-to-right '+', the house
        # fold; each term is one IEEE division of exact integers)
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rel") == 1,
                            F.struct(
                                F.col("rank"),
                                (
                                    F.col("__cum").cast("double")
                                    / F.col("rank")
                                ).alias("p"),
                            ),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__ap_num"),
        # DCG: the relevant ranks' literal gains folded in rank order
        # (binary relevance, so each term IS the spliced constant)
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rel") == 1,
                            F.struct(
                                F.col("rank"),
                                F.element_at(
                                    gains_arr,
                                    F.col("rank").cast("int"),
                                ).alias("g"),
                            ),
                        )
                    )
                ),
                lambda s: s["g"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__dcg"),
    )
    return (
        universe.join(per_q, "query", "left")
        .join(F.broadcast(n_rel), "query", "left")
        .select(
            "query",
            F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
            F.coalesce("hits_at_k", F.lit(0)).alias("hits_at_k"),
            (
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.lit(float(k))
            ).alias("p_at_k"),
            F.when(
                F.coalesce("n_rel", F.lit(0)) > 0,
                F.coalesce("hits_at_k", F.lit(0)).cast("double")
                / F.col("n_rel"),
            )
            .otherwise(F.lit(0.0))
            .alias("recall_at_k"),
            F.when(
                F.col("__first").isNotNull(),
                F.lit(1.0) / F.col("__first"),
            )
            .otherwise(F.lit(0.0))
            .alias("mrr_at_k"),
            F.when(
                F.coalesce("n_rel", F.lit(0)) > 0,
                F.coalesce("__ap_num", F.lit(0.0))
                / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("ap_at_k"),
            F.when(
                F.coalesce("n_rel", F.lit(0)) > 0,
                F.coalesce("__dcg", F.lit(0.0))
                / F.element_at(
                    ideal_arr,
                    F.least(F.col("n_rel"), F.lit(k)).cast("int"),
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg_at_k"),
        )
    )


# --- late-interaction (MaxSim) retrieval -----------------------------------

MAXSIM_DIM = 32
MAXSIM_HASHES = 4
MAXSIM_CHUNK = 32
MAXSIM_STRIDE = 24


def maxsim_top_docs(
    docs: DataFrame,
    queries: list[str],
    top_k: int = 5,
    dim: int = MAXSIM_DIM,
    n_hashes: int = MAXSIM_HASHES,
    chunk_size: int = MAXSIM_CHUNK,
    stride: int = MAXSIM_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Late-interaction retrieval (the MaxSim operator of Khattab &
    Zaharia 2020 ColBERT): score(q, d) = Σ_{t ∈ q} max_{c ∈ chunks(d)}
    cos(v_t, v_c) — each query token finds its best-matching PASSAGE
    independently, unlike BM25/TF-IDF which pool the whole document.
    Here the "token embeddings" are signed feature-hash vectors
    (Weinberger et al. hashing trick, ``portable.signed_feature_*``):
    deterministic, engine-computable, and honest stand-ins with the
    exact plan shape a learned encoder would serve through.

    Contributions are CLAMPED AT ZERO (a token with no positively
    matching chunk adds nothing) — so candidate rows with dot ≤ 0 can
    be dropped BEFORE the aggregation, which is what makes the scale
    shape work:

    * chunking + per-chunk vectors are pure column expressions — zero
      shuffle, the 100 TB corpus pass stays embarrassingly parallel;
    * query-token vectors are Python-computed literals in a broadcast
      frame (the spliced-trained-params convention) — the corpus
      never shuffles to meet the queries;
    * only (chunk, token) pairs whose vectors COLLIDE positively
      survive to the exchange, so the max/sum aggregations shuffle
      candidate-sized data keyed (query, tidx, doc) — never
      corpus × query;
    * the per-(query, doc) sum folds token contributions in tidx
      order (bit-stable under any partitioning); max is exact.

    Output: (query, doc_id, rank, score), rank 1..top_k by
    (score DESC, doc_id).

    Reference parity: no retrieval surface in the reference — §2.9
    extension from the public ColBERT / feature-hashing papers.
    """
    ch = maxsim_chunk_vectors(
        docs, dim=dim, n_hashes=n_hashes,
        chunk_size=chunk_size, stride=stride,
        id_col=id_col, text_col=text_col,
    )
    return _maxsim_score(ch, queries, top_k, n_hashes, dim)


def maxsim_chunk_vectors(
    docs: DataFrame,
    dim: int = MAXSIM_DIM,
    n_hashes: int = MAXSIM_HASHES,
    chunk_size: int = MAXSIM_CHUNK,
    stride: int = MAXSIM_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, chunk_idx, cv, n2c) — the MaxSim index grain: one
    signed feature-hash vector per chunk, squared norm precomputed.
    Pure column expressions after one id-keyed spread — the 100 TB
    build pass."""
    from .neardup import _rebalance
    from .text_chunks import chunk_documents

    S = P.SPARK
    # the testdata corpus is one parquet row-group and every step here
    # is map-side, so without an explicit spread the WHOLE featurize
    # pipeline runs in one task (the q48 single-row-group rationale;
    # measured 39 s -> 3.6 s at sf0.1 on local[32])
    docs = _rebalance(docs, id_col)
    chunks = chunk_documents(
        docs, id_col=id_col, text_col=text_col,
        chunk_size=chunk_size, stride=stride,
    )
    hashes = P.base_hash_array(P.split_ws("chunk_text", S), S)
    ch = chunks.select(
        F.col(id_col).alias("doc_id"),
        "chunk_idx",
        F.expr(hashes).alias("hs"),
    )
    codes = P.signed_feature_codes("hs", n_hashes, dim, S)
    ch = ch.select("doc_id", "chunk_idx", F.expr(codes).alias("es"))
    ch = ch.select(
        "doc_id",
        "chunk_idx",
        F.expr(P.signed_feature_vec("es", dim, S)).alias("cv"),
    )
    return ch.withColumn("n2c", F.expr(P.dot("cv", "cv", S)))


def _maxsim_score(
    ch: DataFrame,
    queries: list[str],
    top_k: int,
    n_hashes: int,
    dim: int,
) -> DataFrame:
    """The serving half of ``maxsim_top_docs`` over a chunk-vector
    frame (fresh or loaded from the stored index — bit-identical
    either way: cv is integer-valued, n2c an exact double, both
    round-trip parquet unchanged)."""
    # Query-token vectors are ≤ n_hashes-sparse over dim positions, so
    # the corpus-side work per (chunk, token) pair is a SPARSE literal
    # dot — the token's nonzero (position, weight) terms spliced as a
    # flat `w·cv[p] + …` chain — instead of the dense dim-element
    # zip_with/aggregate fold (interpreted lambdas, 32 ops/pair) the
    # broadcast-join shape paid. Value-identical for every surviving
    # pair: the dense left fold's zero-weight terms are ±0.0 adds,
    # which only matter when the whole dot is ±0.0 — and those pairs
    # the d0 > 0 filter drops either way. One explode of per-token
    # structs per chunk keeps everything in whole-stage codegen; no
    # join, no per-pair array allocation. (The r10 probe flagged this
    # corpus×tokens scan as the suite's most expensive branch.)
    tok_structs = []
    for q in dict.fromkeys(queries):
        for tidx, tok in enumerate(q.split()):
            tv = P.signed_feature_vec_py(tok, n_hashes, dim)
            n2t = float(sum(x * x for x in tv))
            terms = [(i, v) for i, v in enumerate(tv) if v != 0]
            d0 = (
                " + ".join(
                    f"CAST({v} AS DOUBLE) * CAST(cv[{i}] AS DOUBLE)"
                    for i, v in terms
                )
                if terms
                else "CAST(0 AS DOUBLE)"
            )
            qesc = q.replace("'", "''")
            tok_structs.append(
                f"named_struct('query', '{qesc}', 'tidx', {tidx}, "
                f"'n2t', CAST({n2t!r} AS DOUBLE), 'd0', ({d0}))"
            )
    scored = (
        ch.filter(F.col("n2c") > 0)
        .select(
            "doc_id",
            "n2c",
            F.explode(
                F.expr(f"array({', '.join(tok_structs)})")
            ).alias("t"),
        )
        .select("doc_id", "n2c", "t.*")
        .filter(F.col("d0") > 0)
        .withColumn("cos", F.col("d0") / F.sqrt(F.col("n2t") * F.col("n2c")))
    )
    per_tok = scored.groupBy("query", "tidx", "doc_id").agg(
        F.max("cos").alias("ms")
    )
    agg = per_tok.groupBy("query", "doc_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tidx", "ms"))),
                lambda s: s["ms"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    if top_k is None:
        # all scored (query, doc) pairs — the reranker grain
        return agg.select("query", "doc_id", "score")
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query", "doc_id", "rank", "score")
    )


def maxsim_index_write(
    docs: DataFrame,
    path: str,
    dim: int = MAXSIM_DIM,
    n_hashes: int = MAXSIM_HASHES,
    chunk_size: int = MAXSIM_CHUNK,
    stride: int = MAXSIM_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
    vectors: DataFrame | None = None,
) -> None:
    """Persist the MaxSim chunk-vector index: the one-time 100 TB
    featurization pass written to parquet + a meta.json pinning the
    hash-family parameters, so serves NEVER re-featurize the corpus
    and a mismatched query-side family is refused instead of silently
    scoring garbage. The bm25_index_write deployment contract.

    ``vectors``: an already-featurized (and typically persisted)
    ``maxsim_chunk_vectors`` frame for the SAME (docs, dim, n_hashes,
    chunk_size, stride) — callers that also serve in-session (q55)
    pass their cached frame so the corpus is featurized once, not once
    per consumer. The caller owns the parameter match; the meta.json
    written here still pins what the caller declared."""
    import os

    (
        vectors
        if vectors is not None
        else maxsim_chunk_vectors(
            docs, dim=dim, n_hashes=n_hashes,
            chunk_size=chunk_size, stride=stride,
            id_col=id_col, text_col=text_col,
        )
    ).write.mode("overwrite").parquet(os.path.join(path, "chunks"))
    write_json(
        os.path.join(path, "meta.json"),
        {"dim": dim, "n_hashes": n_hashes,
         "chunk_size": chunk_size, "stride": stride},
    )


def maxsim_index_query(
    spark,
    path: str,
    queries: list[str],
    top_k: int = 5,
) -> DataFrame:
    """Serve MaxSim from the stored index — bit-identical to the
    in-session ``maxsim_top_docs`` (integer-valued vectors and exact
    doubles round-trip parquet unchanged; the scorer is shared), so
    the artifact contract is the ivfflat_idx/bm25idx one: loaded
    serve == fresh build, hash-checkable against the same oracle."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    ch = spark.read.parquet(os.path.join(path, "chunks"))
    delta = read_leaves(spark, os.path.join(path, _MSDELTA))
    if delta is not None:
        ch = ch.unionByName(delta.select("doc_id", "chunk_idx", "cv", "n2c"))
    return _maxsim_score(
        ch, queries, top_k, meta["n_hashes"], meta["dim"]
    )

_MSDELTA = "chunks_delta"


def maxsim_index_append_sink(
    spark,
    path: str,
    run_id: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming MaxSim-index maintenance — the late-interaction
    member of the ingest-sink family: each micro-batch of
    newly-admitted documents featurizes under the STORED hash-family
    parameters (meta.json — the frozen-parameter contract the ANN
    append sink uses; chunk vectors from different families must
    never mix) and appends under
    ``chunks_delta/ingest_run=…/ingest_batch=…``.

    MaxSim scoring has NO corpus-global statistics (each chunk scores
    independently), so incremental serving is exact by construction:
    a serve over base ∪ delta after N appends equals a full rebuild
    bit-for-bit. Chunk vectors land as leaves of ``streaming.sinks``'s
    replay protocol."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)

    def write(batch_df: DataFrame, token: str, batch_id: int) -> None:
        rows = maxsim_chunk_vectors(
            batch_df,
            dim=meta["dim"],
            n_hashes=meta["n_hashes"],
            chunk_size=meta["chunk_size"],
            stride=meta["stride"],
            id_col=id_col,
            text_col=text_col,
        )
        write_leaf(rows, os.path.join(path, _MSDELTA), token, batch_id)

    return leaf_sink(path, write, run_id)


def maxsim_index_compact(spark, path: str, num_buckets: int = 8):
    """Fold the MaxSim index's accumulated per-batch delta leaves —
    the index_maint discipline applied to the late-interaction grain,
    completing the compaction family (digest/band/SRP/whash, now
    chunk vectors). Delegates to ``compact_index`` on the
    ``chunks_delta`` dir: rows dedup by ``distinct()`` (a replayed
    batch's rows are EXACT duplicates, and MaxSim scoring is
    max-based so duplicates never change a serve either way), the
    additive-then-prune rewrite keeps every intermediate crash state
    a serve-identical superset, and each run's frontier batch is held
    back so a foreachBatch replay can still rewrite its own leaf.
    ``maxsim_index_query`` reads the path unchanged; serves are
    bit-identical before and after. Returns the bucketed catalog
    frame (doc_id-bucketed) or None when no deltas exist."""
    import os

    from .index_maint import compact_index

    d = os.path.join(path, _MSDELTA)
    if not os.path.isdir(d):
        return None
    return compact_index(
        spark,
        d,
        bucket_cols=["doc_id"],
        key_cols=None,
        id_col=None,
        num_buckets=num_buckets,
    )


def maxsim_rerank(
    docs: DataFrame,
    queries: list[str],
    k1: int = 20,
    top_k: int = 5,
    dim: int = MAXSIM_DIM,
    n_hashes: int = MAXSIM_HASHES,
    chunk_size: int = MAXSIM_CHUNK,
    stride: int = MAXSIM_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
    candidates: DataFrame | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieve-then-rerank — THE production retrieval
    shape: a cheap high-recall stage-1 (BM25 top-``k1``) shortlists
    candidates, an expressive stage-2 (MaxSim late interaction)
    rescores ONLY those, final rank by (maxsim DESC, doc_id).
    Candidates BM25 found but MaxSim scores at zero (no positively
    colliding chunk) stay in the pool at score 0 — the reranker
    reorders stage-1's shortlist, it never un-retrieves.

    Scale shape — the reason two-stage exists: stage-1 is the
    corpus-touching pass (candidate-pruned postings, corpus never
    shuffles); stage-2 featurizes CANDIDATE documents only (≤
    |queries|·k1 docs via one semi join), so the expensive scorer's
    cost is bounded by the shortlist, never the corpus. Per-(query,
    doc) MaxSim is independent of the rest of the pool, so rescoring
    the shortlist equals restricting a corpus-wide rescore — the
    property the oracle exploits.

    ``candidates``: pass a precomputed stage-1 ranking (query, doc_id,
    …) to rerank an existing shortlist instead of running BM25 here.

    ``vectors``: an already-featurized ``maxsim_chunk_vectors`` frame
    for the SAME (docs, dim, n_hashes, chunk_size, stride) — callers
    that also serve corpus-wide MaxSim in-session (q55) pass their
    persisted frame, and stage-2 becomes a candidate semi join over it
    instead of a second featurization (featurization is strictly
    per-document, so filtering the featurized corpus to the candidate
    ids IS featurizing the candidate docs — row-identical). Also the
    plan-hygiene fix: re-featurizing candidates stacks the spliced
    hash-expression layers on top of the stage-1 subtree, and each
    layer's eager analysis re-walks everything below it (measured
    ~6 s of pure py4j/analysis per construction at q55's parameters).
    """
    if candidates is None:
        candidates = bm25_top_docs(docs, queries, top_k=k1)
    cand = candidates.select("query", "doc_id")
    if vectors is not None:
        ch = vectors.join(
            cand.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    else:
        cand_docs = docs.join(
            cand.select("doc_id").distinct().withColumnRenamed(
                "doc_id", id_col
            ),
            id_col,
            "left_semi",
        )
        ch = maxsim_chunk_vectors(
            cand_docs, dim=dim, n_hashes=n_hashes,
            chunk_size=chunk_size, stride=stride,
            id_col=id_col, text_col=text_col,
        )
    scores = _maxsim_score(ch, queries, None, n_hashes, dim)
    pool = cand.join(scores, ["query", "doc_id"], "left").select(
        "query",
        "doc_id",
        F.coalesce("score", F.lit(0.0)).alias("score"),
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        pool.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query", "doc_id", "rank", "score")
    )


# --- MMR diversification (round 11) ----------------------------------------

MMR_LAMBDA = "0.5"


def mmr_diversify(
    shortlist: DataFrame,
    docs: DataFrame,
    k: int = 3,
    lam: str = MMR_LAMBDA,
    lam_div: str = MMR_LAMBDA,
    id_col: str = "doc_id",
    text_col: str = "text",
    local: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) over a
    per-query shortlist — the diversification stage a retrieval stack
    runs AFTER scoring, so the k results shown are not five copies of
    the same document:

        pick_1 = argmax λ·rel(d)
        pick_t = argmax λ·rel(d) − λ_div·max_{s∈picked} sim(d, s)

    ``sim`` is token-set Jaccard (exact rational), ``rel`` the
    shortlist score. Both enter the argmax ROUNDED to 6 decimals (the
    house dual-dialect rounder), so every comparison runs on doubles
    both engines computed bit-identically and the greedy picks are
    cross-engine deterministic — ties break on doc id. Returns
    (query, doc_id, mmr, pick) with pick 1..k (a query with a
    shortlist smaller than k yields fewer picks; pick 1's mmr is
    λ·rel — no diversity term exists yet).

    Scale shape: everything is shortlist-sized (|queries|·top_k rows)
    — the pairwise sim table is |queries|·top_k² and the k−1 greedy
    rounds are joins over it; the corpus appears only in the one
    token-set lookup join. The greedy loop is inherently sequential
    in k, so keep k small (it is the SERVED page, not the corpus).

    Plan hygiene: each greedy round references the previous round's
    ``picked`` THREE times (candidate anti-join, max-sim join, final
    union), so a naive unroll grows the logical plan ~3^k with the
    whole SHORTLIST plan (a full BM25 scoring tree when called from
    q55) at every leaf — Catalyst has no common-subexpression reuse
    across DataFrame references, so that tree would be re-planned and
    RE-EXECUTED per leaf. ``sl``/``psim`` (loop-invariant) and every
    round's ``picked`` (≤ |queries|·k rows) are persisted via
    persist_tracked: the analyzer's cache substitution collapses all
    repeated references to one InMemoryRelation, keeping the plan
    linear in k and each subtree executed once.

    Inside a memoized build (q55) those persists are owned by the memo
    (operators.cache), so a sketch release between invocations cannot
    silently restore the exponential re-execution on the memoized
    plan. Only the distributed unroll persists anything.

    ``local`` (default): the shortlist is bounded by CONSTRUCTION —
    |queries|·top_k rows, serve-page constants independent of corpus
    size — so the k-round greedy runs as ONE single-task
    ``mapInPandas`` job over the (sl ∪ psim) rows instead of k
    driver-synchronized unrolled rounds (each a window + two joins +
    a cache materialization job; the components ``local_fixpoint``
    convention, guide §1.2 step 1). The Python greedy replicates
    Spark's double ordering exactly — rel/jac are rounded to 6 dp
    INSIDE Spark expressions before crossing, NaN sorts greatest,
    NULL sorts last on desc, ties break on ascending id — pinned
    equal to the unroll by
    tests/test_retrieval.py::test_mmr_local_matches_unrolled.
    """
    from .cache import persist_tracked

    persist_tracked = (lambda df: df) if local else persist_tracked

    lam_e = F.expr(f"CAST('{lam}' AS DOUBLE)")
    div_e = F.expr(f"CAST('{lam_div}' AS DOUBLE)")
    sl = persist_tracked(
        shortlist.select(
            "query",
            id_col,
            F.expr(P.round_dbl("score", 6, P.SPARK)).alias("__rel"),
        )
    )
    tsets = sl.select("query", id_col).join(
        docs.select(
            id_col,
            F.expr(
                P.distinct_(P.split_ws(text_col, P.SPARK), P.SPARK)
            ).alias("__ts"),
        ),
        id_col,
    )
    a, b = tsets.alias("a"), tsets.alias("b")
    jac = P.round_dbl(
        f"(CAST({P.size_(P.intersect_('a.__ts', 'b.__ts', P.SPARK), P.SPARK)}"
        f" AS DOUBLE) / CAST({P.union_size('a.__ts', 'b.__ts', P.SPARK)}"
        f" AS DOUBLE))",
        6,
        P.SPARK,
    )
    psim = persist_tracked(
        a.join(
            b,
            (F.col("a.query") == F.col("b.query"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        ).select(
            F.col("a.query").alias("query"),
            F.col(f"a.{id_col}").alias("__da"),
            F.col(f"b.{id_col}").alias("__db"),
            F.expr(jac).alias("__jac"),
        )
    )
    if local:
        return _mmr_greedy_local(
            sl, psim, k, float(lam), float(lam_div), id_col
        )
    wq = Window.partitionBy("query").orderBy(
        F.col("__rel").desc(), F.col(id_col)
    )
    picked = persist_tracked(
        sl.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") == 1)
        .select(
            "query",
            id_col,
            (lam_e * F.col("__rel")).alias("mmr"),
            F.lit(1).cast("bigint").alias("pick"),
        )
    )
    for t in range(2, k + 1):
        cand = sl.join(
            picked.select("query", id_col), ["query", id_col], "left_anti"
        )
        ms = (
            psim.join(
                picked.select(
                    "query", F.col(id_col).alias("__db")
                ),
                ["query", "__db"],
            )
            .groupBy("query", "__da")
            .agg(F.max("__jac").alias("__ms"))
            .select(
                "query", F.col("__da").alias(id_col), "__ms"
            )
        )
        wm = Window.partitionBy("query").orderBy(
            F.col("mmr").desc(), F.col(id_col)
        )
        nxt = (
            cand.join(ms, ["query", id_col])
            .withColumn(
                "mmr", lam_e * F.col("__rel") - div_e * F.col("__ms")
            )
            .withColumn("__rn", F.row_number().over(wm))
            .filter(F.col("__rn") == 1)
            .select(
                "query", id_col, "mmr",
                F.lit(t).cast("bigint").alias("pick"),
            )
        )
        picked = persist_tracked(picked.unionByName(nxt))
    return picked


def _mmr_greedy_local(
    sl: DataFrame,
    psim: DataFrame,
    k: int,
    lam: float,
    lam_div: float,
    id_col: str,
) -> DataFrame:
    """All k greedy MMR rounds in ONE single-task job.

    ``sl``/``psim`` are shortlist-sized (|queries|·top_k and
    |queries|·top_k² rows — constants, never corpus-scaled), so the
    inherently sequential greedy argmax is pure driver-synchronized
    job latency when unrolled: k rounds × (window + two joins + a
    persist materialization). Here both frames cross the Python
    boundary once, tagged into one union (psim rows carry a partner
    id, sl rows a NULL partner), `repartition(1)` — NOT coalesce,
    which would collapse the upstream corpus token-set join into the
    same single task — and a `mapInPandas` replays the greedy.

    Cross-engine exactness: rel/jac are rounded to 6 dp by Spark
    expressions BEFORE crossing, so Python only multiplies/subtracts
    IEEE doubles (bit-identical to the JVM); a `__vnull` flag rides
    along because pandas folds SQL NULL into NaN, and Spark sorts
    them to OPPOSITE ends (NaN greatest, NULL last on desc). Ties
    break on ascending id, matching the unroll's row_number order;
    candidates whose psim rows were all dropped replicate the
    unroll's inner join by being skipped."""
    import math

    q_f = sl.schema["query"]
    id_f = sl.schema[id_col]
    merged = (
        sl.select(
            "query",
            F.col(id_col).alias("__a"),
            F.lit(None).cast(id_f.dataType).alias("__b"),
            F.col("__rel").alias("__v"),
            F.isnull("__rel").alias("__vnull"),
        )
        .unionByName(
            psim.select(
                "query",
                F.col("__da").alias("__a"),
                F.col("__db").alias("__b"),
                F.col("__jac").alias("__v"),
                F.isnull("__jac").alias("__vnull"),
            )
        )
        .repartition(1)
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(q_f.name, q_f.dataType, True),
            StructField(id_f.name, id_f.dataType, True),
            StructField("mmr", DoubleType(), True),
            StructField("pick", LongType(), True),
        ]
    )
    cols = [q_f.name, id_f.name, "mmr", "pick"]

    def _order_key(val, isnull):
        # Spark desc total order as an ascending-comparable tuple:
        # NULL (0) < finite (1, v) < NaN (2) — argmax of this key ==
        # row_number over (col DESC NULLS LAST) rank 1. All NaN are
        # equal in Spark's ordering, so the value slot pins to 0.0.
        if isnull:
            return (0, 0.0)
        if math.isnan(val):
            return (2, 0.0)
        return (1, val)

    def _as_key(x):
        # pandas promotes nullable int columns to float64 — restore
        # exact int keys; non-numeric id types pass through
        return int(x) if isinstance(x, float) else x

    def _greedy(batches):
        import pandas as pd

        rel: dict = {}
        jac: dict = {}
        for pdf in batches:
            for q, a_, b_, v, nul in zip(
                pdf["query"].tolist(),
                pdf["__a"].tolist(),
                pdf["__b"].tolist(),
                pdf["__v"].tolist(),
                pdf["__vnull"].tolist(),
            ):
                if pd.isna(b_):
                    rel[(q, _as_key(a_))] = (v, bool(nul))
                else:
                    jac[(q, _as_key(a_), _as_key(b_))] = (v, bool(nul))
        out = []
        by_q: dict = {}
        for (q, i) in rel:
            by_q.setdefault(q, []).append(i)
        for q, ids in by_q.items():
            ids.sort()
            chosen: list = []
            best_id, best_key, best_mmr = None, None, None
            for i in ids:
                v, nul = rel[(q, i)]
                key = _order_key(v, nul)
                if best_key is None or key > best_key:
                    best_id, best_key = i, key
                    best_mmr = None if nul else lam * v
            if best_id is None:
                continue
            out.append((q, best_id, best_mmr, 1))
            chosen.append(best_id)
            for t in range(2, k + 1):
                best_id, best_key, best_mmr = None, None, None
                for i in ids:
                    if i in chosen:
                        continue
                    vals = [
                        jac[(q, i, p)] for p in chosen if (q, i, p) in jac
                    ]
                    if not vals:
                        continue  # the unroll's inner join drops it
                    nn = [v for v, nul in vals if not nul]
                    if not nn:
                        ms = None  # max() over an all-NULL group
                    elif any(math.isnan(v) for v in nn):
                        ms = float("nan")  # Spark max: NaN is greatest
                    else:
                        ms = max(nn)
                    rv, rnul = rel[(q, i)]
                    mmr = (
                        None
                        if (rnul or ms is None)
                        else lam * rv - lam_div * ms
                    )
                    key = _order_key(
                        0.0 if mmr is None else mmr, mmr is None
                    )
                    if best_key is None or key > best_key:
                        best_id, best_key, best_mmr = i, key, mmr
                if best_id is None:
                    break
                out.append((q, best_id, best_mmr, t))
                chosen.append(best_id)
        # object dtypes: Arrow casts per the declared schema and keeps
        # None → NULL distinct from float('nan') → NaN
        yield pd.DataFrame(out, columns=cols, dtype=object)

    return merged.mapInPandas(_greedy, out_schema)
