"""LLM pipeline extensions, second wave — q54-q58.

Document chunking (context-window packing), TF-IDF term ranking,
embedding quantization (int8 index compression), near-dup CONNECTED
COMPONENTS (pairs → clusters via min-label propagation, oracle-checked
against a DuckDB recursive CTE), and sign-random-projection bucket
histograms.

Oracles render the same ``functions.portable`` expressions in DuckDB
dialect; q57's iterative Spark loop is verified against the exact
transitive closure a recursive CTE computes — same fixpoint, two very
different execution strategies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_table
from .functions import portable as P
from .operators import knn as KNN
from .operators.cache import build_memo, persist_tracked
from .operators.components import connected_components, with_component_sizes
from .operators.text_chunks import chunk_documents, tfidf_top_terms
from .registry import query
from . import queries_llm as QL

D = P.DUCK

CHUNK_SIZE = 32
# PQ branch of q56: 64 dims / 8 subspaces = 8-dim subvectors, 16 codes
PQ_M = 8
PQ_DSUB = 8
PQ_CODES = 16
IVFPQ_CELLS = 8  # coarse cells for the ivfpq branch
ADC_NQ = 4  # queries scored by the adc serving branch
STRIDE = 24


# --- q54: overlapping token-window chunking -------------------------------

def _chunk_sql() -> str:
    toks = P.split_ws("text", D)
    n = P.size_("toks", D)
    starts = P.seq_step("1", n, STRIDE, D)
    chunk_text = P.join_str(P.slice_("toks", "start", CHUNK_SIZE, D), " ", D)
    return f"""
    WITH tok AS (SELECT doc_id, {toks} AS toks FROM documents),
    ex AS (SELECT doc_id, toks, unnest({starts}) AS start FROM tok)
    SELECT doc_id,
           {P.idiv('start - 1', str(STRIDE), D)} + 1 AS chunk_idx,
           {chunk_text} AS chunk_text,
           least({CHUNK_SIZE}, {n} - start + 1) AS n_tokens
    FROM ex
    """


SUBSTR_K = 16  # window length for the exact-substring dedup branch
# shard branch: canonical per-doc packing then the shard writers'
# placement formula (operators.packing.shard_assignment)
SHARD_PACK_BUDGET = 96
NUM_SHARDS = 8

# lbatch branch: length-bucketed batching (operators.packing) — batch
# size and ascending bucket lower-edges over the 1..CHUNK_SIZE
# token-length range
LB_BATCH = 8
LB_BOUNDS = (9, 17, 25)


def _chunk_dedup_sql() -> str:
    """Tag merge of the chunk table, its passage-level dedup
    (round 5), and the exact-SUBSTRING repeated-span table (round 6,
    Lee et al. ExactSubstr): survivor = smallest (doc_id, chunk_idx)
    per distinct chunk text, n_copies > 1 marks cross-document
    boilerplate; the ``substr`` rows re-derive the k-token window
    fingerprints, >=2-occurrence filter, and gaps-and-islands span
    merge in SQL (chunk_idx carries span_start, n_tokens the span
    length). The ``shard`` rows (round 8) re-derive canonical per-doc
    packing (the q63 recursive fold) and the shard writers' placement
    formula — first 8 md5 hex digits folded to an integer mod
    NUM_SHARDS, within-shard order by the full md5 — as one
    order-sensitive fingerprint per shard."""
    k = SUBSTR_K
    B = SHARD_PACK_BUDGET
    return f"""
    WITH RECURSIVE chunks AS MATERIALIZED ({_chunk_sql()}),
    surv AS (
      SELECT md5(chunk_text) AS h,
             min({{'doc_id': doc_id, 'chunk_idx': chunk_idx}}) AS w,
             count(*) AS n_copies,
             min(chunk_text) AS chunk_text
      FROM chunks GROUP BY md5(chunk_text)
    ),
    stok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    win AS (
      SELECT doc_id, s AS start,
             md5(array_to_string(toks[s : s + {k - 1}], ' ')) AS whash
      FROM stok, unnest(range(1, greatest(len(toks) - {k - 1}, 1) + 1))
           AS t(s)
      WHERE s <= len(toks) - {k - 1}
    ),
    dupw AS (
      SELECT whash FROM win GROUP BY whash HAVING count(*) >= 2
    ),
    flagged AS (
      SELECT doc_id, start,
             lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev
      FROM win WHERE whash IN (SELECT whash FROM dupw)
    ),
    isl AS (
      SELECT doc_id, start,
             sum(CASE WHEN prev IS NULL OR start - prev > {k}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM flagged
    ),
    spans54 AS (
      SELECT doc_id, min(start) AS span_start,
             max(start) + {k - 1} AS span_end
      FROM isl GROUP BY doc_id, island
    ),
    -- shard branch: canonical per-doc greedy packing (the q63 fold —
    -- chunk_idx IS the fold order), then the writers' placement
    cstats AS MATERIALIZED (
      SELECT doc_id, chunk_idx AS rn, n_tokens FROM chunks
    ),
    packfold(doc_id, rn, pack_seq, open_cum) AS (
      SELECT doc_id, rn, 0,
             CASE WHEN n_tokens >= {B} THEN 0 ELSE n_tokens END
      FROM cstats WHERE rn = 1
      UNION ALL
      SELECT c.doc_id, c.rn,
             CASE WHEN p.open_cum = 0 OR p.open_cum + c.n_tokens > {B}
                  THEN p.pack_seq + 1 ELSE p.pack_seq END,
             CASE WHEN (CASE WHEN p.open_cum = 0
                               OR p.open_cum + c.n_tokens > {B}
                             THEN c.n_tokens
                             ELSE p.open_cum + c.n_tokens END) >= {B}
                  THEN 0
                  ELSE (CASE WHEN p.open_cum = 0
                               OR p.open_cum + c.n_tokens > {B}
                             THEN c.n_tokens
                             ELSE p.open_cum + c.n_tokens END) END
      FROM packfold p JOIN cstats c
        ON c.doc_id = p.doc_id AND c.rn = p.rn + 1
    ),
    packstats AS MATERIALIZED (
      SELECT CAST(p.doc_id AS VARCHAR) || '-'
               || CAST(p.pack_seq AS VARCHAR) AS pack_id,
             sum(c.n_tokens) AS pack_tokens
      FROM packfold p JOIN cstats c
        ON c.doc_id = p.doc_id AND c.rn = p.rn
      GROUP BY p.doc_id, p.pack_seq
    ),
    cmask AS MATERIALIZED (
      SELECT c.doc_id, c.chunk_idx, c.cs, c.ce,
             greatest(s.span_start, c.cs) - c.cs + 1 AS m_start,
             least(s.span_end, c.ce) - c.cs + 1 AS m_end
      FROM (
        SELECT doc_id, chunk_idx,
               (chunk_idx - 1) * {STRIDE} + 1 AS cs,
               (chunk_idx - 1) * {STRIDE} + n_tokens AS ce
        FROM chunks
      ) c JOIN spans54 s
        ON s.doc_id = c.doc_id
       AND s.span_start <= c.ce AND s.span_end >= c.cs
    ),
    passign AS (
      SELECT p.doc_id, p.rn AS chunk_idx,
             CAST(p.doc_id AS VARCHAR) || '-'
               || CAST(p.pack_seq AS VARCHAR) AS pack_id,
             COALESCE(SUM(c.n_tokens) OVER (
               PARTITION BY p.doc_id, p.pack_seq ORDER BY p.rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS pack_offset
      FROM packfold p JOIN cstats c
        ON c.doc_id = p.doc_id AND c.rn = p.rn
    ),
    placed AS (
      SELECT pack_id, pack_tokens, md5(pack_id) AS shard_ord,
             list_reduce(
               list_transform(
                 string_split(substr(md5(pack_id), 1, 8), ''),
                 c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (acc, x) -> acc * 16 + x) % {NUM_SHARDS} AS shard
      FROM packstats
    ),
    shards AS (
      SELECT shard, count(*) AS n_packs, sum(pack_tokens) AS tot_tokens,
             md5(string_agg(pack_id, ',' ORDER BY shard_ord)) AS fp
      FROM placed GROUP BY shard
    ),
    -- lbatch branch: length-bucketed batching — static bucket ladder,
    -- canonical (length, doc, idx) order within bucket, fixed batch
    -- size; one order-sensitive membership fingerprint per batch (the
    -- shard-fp discipline) plus the padding accounting
    lb0 AS (
      SELECT doc_id, chunk_idx, n_tokens,
             CAST(((CASE WHEN n_tokens >= 9 THEN 1 ELSE 0 END) + (CASE WHEN n_tokens >= 17 THEN 1 ELSE 0 END) + (CASE WHEN n_tokens >= 25 THEN 1 ELSE 0 END)) AS INTEGER) AS bucket
      FROM chunks
    ),
    lbr AS (
      SELECT *, row_number() OVER (
        PARTITION BY bucket ORDER BY n_tokens, doc_id, chunk_idx
      ) AS rn
      FROM lb0
    ),
    lbatch AS (
      SELECT bucket, CAST((rn - 1) // 8 AS INTEGER) AS batch_idx,
             count(*) AS n_seqs, max(n_tokens) AS max_len,
             sum(n_tokens) AS sum_len,
             md5(string_agg(
               CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR),
               ',' ORDER BY rn)) AS fp
      FROM lbr GROUP BY bucket, (rn - 1) // 8
    )
    SELECT 'chunk' AS mode, doc_id, chunk_idx, chunk_text, n_tokens,
           CAST(NULL AS BIGINT) AS n_copies
    FROM chunks
    UNION ALL
    SELECT 'dedup', w.doc_id, w.chunk_idx, chunk_text,
           CAST(NULL AS INTEGER) AS n_tokens, n_copies
    FROM surv
    UNION ALL
    SELECT 'substr', doc_id, CAST(span_start AS INTEGER),
           CAST(NULL AS VARCHAR),
           CAST(span_end - span_start + 1 AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM spans54
    UNION ALL
    SELECT 'rebuilt', st.doc_id, CAST(NULL AS INTEGER),
           coalesce(array_to_string(
             list_transform(
               list_filter(range(1, len(st.toks) + 1),
                 p -> sp.spans IS NULL OR len(list_filter(sp.spans,
                        x -> p >= x.s AND p <= x.e)) = 0),
               p -> st.toks[p]), ' '), ''),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT)
    FROM stok st LEFT JOIN (
      SELECT doc_id, list({{'s': span_start, 'e': span_end}}) AS spans
      FROM spans54 GROUP BY doc_id
    ) sp USING (doc_id)
    UNION ALL
    SELECT 'shard', shard, CAST(n_packs AS INTEGER), fp,
           CAST(tot_tokens AS INTEGER), CAST(NULL AS BIGINT)
    FROM shards
    UNION ALL
    -- masks branch: chunk-local loss-mask ranges from the span table
    SELECT 'masks', doc_id, chunk_idx,
           CAST(m_start AS VARCHAR) || '-' || CAST(m_end AS VARCHAR),
           CAST(m_end - m_start + 1 AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM cmask
    UNION ALL
    -- packmask branch: the same masks carried into the packed
    -- sequences via the canonical pack-assignment fold's offsets
    SELECT 'packmask', m.doc_id, m.chunk_idx,
           a.pack_id || ':'
             || CAST(a.pack_offset + m.m_start AS VARCHAR)
             || '-'
             || CAST(a.pack_offset + m.m_end AS VARCHAR),
           CAST(m.m_end - m.m_start + 1 AS INTEGER),
           CAST(NULL AS BIGINT)
    FROM cmask m JOIN passign a
      ON a.doc_id = m.doc_id AND a.chunk_idx = m.chunk_idx
    UNION ALL
    -- lbatch branch: one row per (bucket, batch) — fingerprint proves
    -- membership AND order; n_tokens carries the padding waste
    SELECT 'lbatch', CAST(bucket AS BIGINT), batch_idx, fp,
           CAST(n_seqs * max_len - sum_len AS INTEGER),
           CAST(n_seqs AS BIGINT)
    FROM lbatch
    """


@query(
    "q54_chunk_documents",
    branches=(
        "chunk", "dedup", "substr", "rebuilt", "shard", "masks", "packmask",
        "lbatch",
    ),
    oracle=_chunk_dedup_sql(),
)
@build_memo
def q54_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking + passage-level dedup in one driver row (round-5 tag
    merge). ``chunk``: each document sliced into 32-token windows
    every 24 tokens (8-token overlap) — context-length packing, fully
    map-side. ``dedup``: operators.text_chunks.dedup_chunks over those
    windows — exact dedup at CHUNK grain, catching boilerplate
    passages repeated across otherwise-distinct documents (the regime
    document-level dedup misses); digest-keyed min-(doc,idx) survivor,
    ``n_copies`` doubles as a boilerplate detector. ``substr`` (round
    6): operators.substr_dedup.repeated_spans — exact-SUBSTRING dedup
    (Lee et al. ExactSubstr), the maximal merged spans of 16-token
    windows occurring >= 2 times anywhere in the corpus; the grain
    BELOW chunk dedup (a repeated quote inside otherwise-distinct
    documents), chunk_idx carrying span_start and n_tokens the span
    length. ``shard`` (round 8): the training-shard writers' placement
    contract, driver-VALUE-checked — canonical per-doc packing of the
    chunk table, then ``operators.packing.shard_assignment`` (the
    exact expression ``write_training_shards`` and the streaming
    ``training_shards_sink`` share) aggregated to one row per shard
    with an ORDER-SENSITIVE fingerprint: md5 of the pack ids
    concatenated in within-shard ``__shard_ord`` order. A hash match
    proves both the mod-hash placement AND the seedless decorrelated
    order, so "a pack lands in the same shard and position whether
    written by the batch job, the stream, or a replay" is checked
    against an independent engine, not just asserted. doc_id carries
    the shard id, chunk_idx the pack count, n_tokens the shard's
    token total. ``masks`` (round 10):
    operators.text_chunks.chunk_loss_masks — the span table translated
    to chunk-LOCAL loss-mask ranges (mask-instead-of-drop dedup: keep
    duplicated tokens as context, zero their loss); chunk_text carries
    'start-end', n_tokens the masked length. ``packmask`` (round 10):
    the same masks carried INTO the packed training sequences —
    operators.packing.pack_assignments (the membership/offset table of
    the canonical fold) shifts each chunk-local range by the chunk's
    pack_offset; chunk_text carries 'pack_id:start-end' in pack
    content-token coordinates, the mask a trainer actually applies.
    ``lbatch`` (round 11): length-bucketed batching
    (operators.packing.length_bucketed_batches/padding_stats) — the
    dynamic-batching move a trainer data loader makes; one row per
    (bucket, batch) with an order-sensitive membership fingerprint
    (doc_id carries the bucket, chunk_idx the batch, chunk_text the
    fingerprint, n_tokens the padding waste, n_copies the batch
    occupancy).

    Memoized per (session, corpus) — the q41/q55/q57/q58/q59
    convention: eight branch timings each re-built the union (~1.5 s
    py4j) and re-ran the span/assignment passes their tracked persists
    had just released."""
    from .operators.packing import (
        length_bucketed_batches,
        pack_assignments,
        shard_assignment,
    )
    from .operators.substr_dedup import (
        remove_repeated_substrings,
        repeated_spans,
    )
    from .operators.text_chunks import chunk_loss_masks, dedup_chunks

    docs = load_table(spark, sf_dir, "documents")
    # chunks fan out five ways (chunk branch, dedup, masks, the
    # assignment fold, lbatch) — persisted under the memo so each
    # consumer and each branch-timing re-invocation reads the one
    # materialized chunk table instead of re-chunking the corpus
    chunks = persist_tracked(
        chunk_documents(docs, chunk_size=CHUNK_SIZE, stride=STRIDE)
    )
    deduped = dedup_chunks(chunks)
    # spans feed two branches (span table + rebuild): one fingerprint
    # pass, persisted
    spans = persist_tracked(repeated_spans(docs, k=SUBSTR_K))
    rebuilt = remove_repeated_substrings(docs, k=SUBSTR_K, spans=spans)
    # masks feed two branches (chunk-local + pack-local): one frame
    masks_df = chunk_loss_masks(chunks, spans, stride=STRIDE)
    # ONE canonical packing pass feeds BOTH pack consumers (the shard
    # branch's pack-level rows and packmask's membership join):
    # pack_assignments mirrors pack_chunks(canonical=True) exactly —
    # same greedy fold, same '{doc}-{seq}' ids — and the shard
    # fingerprint only needs (pack_id, Σ n_tokens), so the pack-level
    # frame is a group-bounded agg of the shared assignment table
    # instead of a second repartition+sort+Arrow pass over the chunks
    # (guide §2.4; the text concat the shard branch never read also
    # disappears).
    asg = persist_tracked(
        pack_assignments(chunks, budget=SHARD_PACK_BUDGET)
    )
    placed = shard_assignment(
        asg.groupBy("pack_id").agg(F.sum("n_tokens").alias("n_tokens")),
        NUM_SHARDS,
    )
    shard_rows = (
        placed.groupBy(F.col("__shard").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("chunk_idx"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("__shard_ord", "pack_id")
                            )
                        ),
                        lambda s: s["pack_id"],
                    ),
                    ",",
                )
            ).alias("chunk_text"),
            F.sum("n_tokens").cast("int").alias("n_tokens"),
        )
        .select(
            F.lit("shard").alias("mode"), "doc_id", "chunk_idx",
            "chunk_text", "n_tokens",
            F.lit(None).cast("long").alias("n_copies"),
        )
    )
    return chunks.select(
        F.lit("chunk").alias("mode"), "doc_id", "chunk_idx", "chunk_text",
        "n_tokens", F.lit(None).cast("long").alias("n_copies"),
    ).unionByName(
        deduped.select(
            F.lit("dedup").alias("mode"), "doc_id", "chunk_idx",
            "chunk_text", F.lit(None).cast("int").alias("n_tokens"),
            "n_copies",
        )
    ).unionByName(
        spans.select(
            F.lit("substr").alias("mode"), "doc_id",
            F.col("span_start").cast("int").alias("chunk_idx"),
            F.lit(None).cast("string").alias("chunk_text"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int").alias("n_tokens"),
            F.lit(None).cast("long").alias("n_copies"),
        )
    ).unionByName(
        rebuilt.select(
            F.lit("rebuilt").alias("mode"), "doc_id",
            F.lit(None).cast("int").alias("chunk_idx"),
            F.col("text").alias("chunk_text"),
            F.lit(None).cast("int").alias("n_tokens"),
            F.lit(None).cast("long").alias("n_copies"),
        )
    ).unionByName(
        masks_df.select(
            F.lit("masks").alias("mode"), "doc_id", "chunk_idx",
            F.concat(
                F.col("mask_start").cast("string"),
                F.lit("-"),
                F.col("mask_end").cast("string"),
            ).alias("chunk_text"),
            (F.col("mask_end") - F.col("mask_start") + 1)
            .cast("int").alias("n_tokens"),
            F.lit(None).cast("long").alias("n_copies"),
        )
    ).unionByName(
        masks_df.join(
            asg.select("doc_id", "chunk_idx", "pack_id", "pack_offset"),
            ["doc_id", "chunk_idx"],
        ).select(
            F.lit("packmask").alias("mode"), "doc_id", "chunk_idx",
            F.concat(
                F.col("pack_id"),
                F.lit(":"),
                (F.col("pack_offset") + F.col("mask_start"))
                .cast("string"),
                F.lit("-"),
                (F.col("pack_offset") + F.col("mask_end")).cast("string"),
            ).alias("chunk_text"),
            (F.col("mask_end") - F.col("mask_start") + 1)
            .cast("int").alias("n_tokens"),
            F.lit(None).cast("long").alias("n_copies"),
        )
    ).unionByName(shard_rows).unionByName(
        length_bucketed_batches(chunks, LB_BATCH, LB_BOUNDS)
        .groupBy("bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.max("n_tokens").alias("max_len"),
            F.sum("n_tokens").alias("sum_len"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "batch_ord",
                                    F.concat(
                                        F.col("doc_id").cast("string"),
                                        F.lit(":"),
                                        F.col("chunk_idx").cast("string"),
                                    ).alias("k"),
                                )
                            )
                        ),
                        lambda st: st["k"],
                    ),
                    ",",
                )
            ).alias("fp"),
        )
        .select(
            F.lit("lbatch").alias("mode"),
            F.col("bucket").cast("long").alias("doc_id"),
            F.col("batch_idx").alias("chunk_idx"),
            F.col("fp").alias("chunk_text"),
            (F.col("n_seqs") * F.col("max_len") - F.col("sum_len"))
            .cast("int").alias("n_tokens"),
            F.col("n_seqs").alias("n_copies"),
        )
    )


# --- q55: TF-IDF top term per document + BM25 retrieval -------------------

# BM25 branch: fixed two-term queries over the corpus vocabulary;
# terms within each query are DISTINCT by construction (the operator
# dedupes, the oracle's unnest relies on it).
BM25_QUERIES = ("hash join", "scan filter", "stream window")
BM25_TOP_K = 5

# bm25idx branch: one persistent-index build per corpus dir per
# session (the deployment contract — build once, serve many)
_Q55_IDX_CACHE: dict = {}
_Q55_MS_IDX_CACHE: dict = {}

# maxsim branch: late-interaction retrieval over the same query set
# (signed feature-hash token vectors; operators.retrieval.maxsim_*)
MAXSIM_DIM = 32
MAXSIM_HASHES = 4
# rerank branch: stage-1 shortlist size for retrieve-then-rerank
RERANK_K1 = 20


def _maxsim_ctes() -> str:
    """The maxsim branch's oracle derivation: chunking (the q54
    expressions), per-chunk signed feature-hash vectors, per-(query,
    token) max-over-chunks cosine with dot ≤ 0 rows dropped (the
    clamp-at-zero semantics), tidx-ordered contribution fold, rank by
    (score DESC, doc_id). Query-token vectors are the SAME
    Python-computed integer literals the operator broadcasts."""
    toks = P.split_ws("text", D)
    n = P.size_("toks", D)
    starts = P.seq_step("1", n, STRIDE, D)
    chunk_text = P.join_str(P.slice_("toks", "start", CHUNK_SIZE, D), " ", D)
    hashes = P.base_hash_array(P.split_ws("chunk_text", D), D)
    codes = P.signed_feature_codes("hs", MAXSIM_HASHES, MAXSIM_DIM, D)
    vec = P.signed_feature_vec("es", MAXSIM_DIM, D)
    vals = []
    for q in dict.fromkeys(BM25_QUERIES):
        for tidx, tok in enumerate(q.split()):
            tv = P.signed_feature_vec_py(tok, MAXSIM_HASHES, MAXSIM_DIM)
            n2t = float(sum(x * x for x in tv))
            lit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in tv) + "]"
            vals.append(f"('{q}', {tidx}, {lit}, CAST('{n2t!r}' AS DOUBLE))")
    return f"""
    mstok AS (SELECT doc_id, {toks} AS toks FROM documents),
    msex AS (SELECT doc_id, toks, unnest({starts}) AS start FROM mstok),
    mscht AS (SELECT doc_id, {chunk_text} AS chunk_text FROM msex),
    mshs AS (SELECT doc_id, {hashes} AS hs FROM mscht),
    mses AS (SELECT doc_id, {codes} AS es FROM mshs),
    mscv AS (SELECT doc_id, {vec} AS cv FROM mses),
    msc2 AS (SELECT doc_id, cv, {P.dot('cv', 'cv', D)} AS n2c FROM mscv),
    msq AS (SELECT * FROM (VALUES {', '.join(vals)}) q(query, tidx, tv, n2t)),
    mssc AS (
      SELECT query, tidx, doc_id,
             {P.dot('tv', 'cv', D)} AS d0, n2t, n2c
      FROM msc2 CROSS JOIN msq
    ),
    msm AS (
      SELECT query, tidx, doc_id,
             max(d0 / sqrt(n2t * n2c)) AS ms
      FROM mssc WHERE d0 > 0 AND n2c > 0
      GROUP BY query, tidx, doc_id
    ),
    msagg AS (
      SELECT query, doc_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                      list(ms ORDER BY tidx)),
                         (acc, x) -> acc + x) AS score
      FROM msm GROUP BY query, doc_id
    ),
    msr AS (
      SELECT *, row_number() OVER (PARTITION BY query
                                   ORDER BY score DESC, doc_id) AS rn
      FROM msagg
    ),
    -- rerank branch: retrieve-then-rerank — BM25's top-k1 shortlist
    -- rescored by MaxSim (per-(query, doc) MaxSim is independent of
    -- the pool, so restricting the corpus-wide msagg to the shortlist
    -- equals the operator's candidates-only rescore); BM25 hits with
    -- no positively-colliding chunk stay at score 0
    rercand AS (SELECT query, doc_id FROM br WHERE rn <= {RERANK_K1}),
    rer AS (
      SELECT c.query, c.doc_id,
             COALESCE(m.score, CAST(0.0 AS DOUBLE)) AS score,
             row_number() OVER (
               PARTITION BY c.query
               ORDER BY COALESCE(m.score, CAST(0.0 AS DOUBLE)) DESC,
                        c.doc_id) AS rn
      FROM rercand c LEFT JOIN msagg m
        ON m.query = c.query AND m.doc_id = c.doc_id
    )"""


# mmr branch (round 11): greedy diversification depth over the bm25
# shortlist (operators.retrieval.mmr_diversify)
MMR_K = 3


def _mmr_ctes(k: int) -> str:
    """Unrolled MMR greedy rounds for the q55 oracle — rel and the
    token-set Jaccard enter every argmax ROUNDED via the tie-safe
    dual-dialect rounder, so the picks match mmr_diversify exactly."""
    from .operators.retrieval import MMR_LAMBDA

    lam = f"CAST('{MMR_LAMBDA}' AS DOUBLE)"
    jac = P.round_dbl(
        f"(CAST({P.size_(P.intersect_('ta.ts', 'tb.ts', D), D)} AS DOUBLE)"
        f" / CAST({P.union_size('ta.ts', 'tb.ts', D)} AS DOUBLE))",
        6,
        D,
    )
    ctes = f"""
    mmts AS (SELECT doc_id, {P.distinct_('toks', D)} AS ts FROM btok),
    mmsl AS (
      SELECT query, doc_id, {P.round_dbl('score', 6, D)} AS rel
      FROM br WHERE rn <= {BM25_TOP_K}
    ),
    mmps AS (
      SELECT a.query, a.doc_id AS da, b.doc_id AS db, {jac} AS jac
      FROM mmsl a JOIN mmsl b
        ON a.query = b.query AND a.doc_id <> b.doc_id
      JOIN mmts ta ON ta.doc_id = a.doc_id
      JOIN mmts tb ON tb.doc_id = b.doc_id
    ),
    mm1 AS (
      SELECT query, doc_id, {lam} * rel AS mmr, 1 AS pick FROM (
        SELECT query, doc_id, rel,
               row_number() OVER (PARTITION BY query
                                  ORDER BY rel DESC, doc_id) AS rn
        FROM mmsl
      ) WHERE rn = 1
    ),
    mmp1 AS (SELECT query, doc_id FROM mm1)"""
    for t in range(2, k + 1):
        ctes += f""",
    mmc{t} AS (
      SELECT s.query, s.doc_id, s.rel FROM mmsl s
      LEFT JOIN mmp{t - 1} p
        ON p.query = s.query AND p.doc_id = s.doc_id
      WHERE p.doc_id IS NULL
    ),
    mms{t} AS (
      SELECT ps.query, ps.da AS doc_id, max(ps.jac) AS msim
      FROM mmps ps JOIN mmp{t - 1} p
        ON p.query = ps.query AND p.doc_id = ps.db
      GROUP BY ps.query, ps.da
    ),
    mm{t} AS (
      SELECT query, doc_id, mmr, {t} AS pick FROM (
        SELECT c.query, c.doc_id,
               {lam} * c.rel - {lam} * m.msim AS mmr,
               row_number() OVER (PARTITION BY c.query
                 ORDER BY {lam} * c.rel - {lam} * m.msim DESC,
                          c.doc_id) AS rn
        FROM mmc{t} c JOIN mms{t} m
          ON m.query = c.query AND m.doc_id = c.doc_id
      ) WHERE rn = 1
    ),
    mmp{t} AS (
      SELECT query, doc_id FROM mmp{t - 1}
      UNION ALL SELECT query, doc_id FROM mm{t}
    )"""
    arms = "\n      UNION ALL\n      ".join(
        f"SELECT query, doc_id, mmr, pick FROM mm{t}"
        for t in range(1, k + 1)
    )
    return ctes + f""",
    mmall AS (
      {arms}
    )"""


def _q55_sql() -> str:
    from .operators.retrieval import BM25_B, BM25_K1, RRF_K

    k1, b, k1p1 = BM25_K1, BM25_B, BM25_K1 + 1.0
    qvals = ", ".join(f"('{q}')" for q in BM25_QUERIES)
    # nDCG discount literals: the SAME Python-computed constants the
    # operator splices (retrieval.ndcg_tables) — log2 never runs
    # inside either engine
    from .operators.retrieval import ndcg_tables

    _gains, _ideal = ndcg_tables(BM25_TOP_K)
    gain_case = " ".join(
        f"WHEN {r + 1} THEN CAST('{g!r}' AS DOUBLE)"
        for r, g in enumerate(_gains)
    )
    ideal_case = " ".join(
        f"WHEN {m + 1} THEN CAST('{i!r}' AS DOUBLE)"
        for m, i in enumerate(_ideal)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({P.split_ws('text', D)}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf_count FROM tok GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df_count FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf_count,
             CAST(tf.tf_count AS DOUBLE)
               * ln((n.n_docs + 1.0) / (dfq.df_count + 1.0)) AS tfidf_raw
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf_raw DESC, term) AS rn
      FROM scored
    ),
    -- bm25 branch: per-term Okapi score, TERM-ORDER left fold per
    -- (query, doc) = the operator's F.aggregate chain, rank by
    -- (score DESC, doc_id)
    btok AS (SELECT doc_id, {P.split_ws('text', D)} AS toks FROM documents),
    bstats AS (
      SELECT count(*) AS n_docs, sum({P.size_('toks', D)}) AS tot_dl
      FROM btok
    ),
    bexp AS (
      SELECT doc_id, {P.size_('toks', D)} AS dl, unnest(toks) AS term
      FROM btok
    ),
    btf AS (
      SELECT doc_id, dl, term, count(*) AS tf
      FROM bexp GROUP BY doc_id, dl, term
    ),
    qt AS (
      SELECT query, unnest(string_split(query, ' ')) AS term
      FROM (VALUES {qvals}) q(query)
    ),
    bdf AS (
      SELECT term, count(*) AS df_count FROM btf
      WHERE term IN (SELECT term FROM qt) GROUP BY term
    ),
    bsc AS (
      SELECT qt.query, tf.doc_id, tf.term,
             ln(1.0 + (s.n_docs - d.df_count + 0.5) / (d.df_count + 0.5))
               * ((tf.tf * {k1p1}) / (tf.tf + {k1} * (1.0 - {b}
                    + ({b} * tf.dl) / (s.tot_dl / s.n_docs)))) AS ts
      FROM btf tf JOIN bdf d USING (term) JOIN qt USING (term)
      CROSS JOIN bstats s
    ),
    bagg AS (
      SELECT query, doc_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(ts ORDER BY term)),
               (acc, x) -> acc + x) AS score
      FROM bsc GROUP BY query, doc_id
    ),
    br AS (
      SELECT *, row_number() OVER (PARTITION BY query
                                   ORDER BY score DESC, doc_id) AS rn
      FROM bagg
    ),
    -- rrf branch: reciprocal rank fusion of the bm25 ranking with the
    -- integer-exact term-overlap ranking; contributions fold in
    -- ranker-index order (the operator's F.aggregate chain)
    ov AS (
      SELECT qt.query, tf.doc_id, sum(tf.tf) AS hits
      FROM btf tf JOIN qt USING (term)
      GROUP BY qt.query, tf.doc_id
    ),
    ovr AS (
      SELECT *, row_number() OVER (PARTITION BY query
                                   ORDER BY hits DESC, doc_id) AS rn
      FROM ov
    ),
    contrib AS (
      SELECT query, doc_id, 0 AS ridx, 1.0 / ({RRF_K} + rn) AS c
      FROM br WHERE rn <= {BM25_TOP_K}
      UNION ALL
      SELECT query, doc_id, 1, 1.0 / ({RRF_K} + rn)
      FROM ovr WHERE rn <= {BM25_TOP_K}
    ),
    fused AS (
      SELECT query, doc_id,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list(c ORDER BY ridx)),
               (acc, x) -> acc + x) AS score
      FROM contrib GROUP BY query, doc_id
    ),
    fr AS (
      SELECT *, row_number() OVER (PARTITION BY query
                                   ORDER BY score DESC, doc_id) AS rn
      FROM fused
    ),
    -- eval branch: rank-quality metrics of the bm25 ranking against
    -- contains-ALL-query-terms relevance labels — every metric a
    -- single IEEE division of exact integer counts (AP folds its
    -- precision terms in rank order), so no tolerance is needed
    qsz AS (SELECT query, count(DISTINCT term) AS nt FROM qt GROUP BY query),
    qrels AS (
      SELECT q.query, tf.doc_id
      FROM btf tf JOIN qt q USING (term) JOIN qsz s ON s.query = q.query
      GROUP BY q.query, tf.doc_id, s.nt
      HAVING count(DISTINCT tf.term) = s.nt
    ),
    nrel AS (SELECT query, count(*) AS n_rel FROM qrels GROUP BY query),
    evf AS (
      SELECT br.query, br.rn AS rank,
             CASE WHEN qr.doc_id IS NULL THEN 0 ELSE 1 END AS rel
      FROM br LEFT JOIN qrels qr
        ON qr.query = br.query AND qr.doc_id = br.doc_id
      WHERE br.rn <= {BM25_TOP_K}
    ),
    evc AS (
      SELECT query, rank, rel,
             sum(rel) OVER (PARTITION BY query ORDER BY rank
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM evf
    ),
    evq AS (
      SELECT query,
             sum(rel) AS hits,
             min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(CAST(cum AS DOUBLE) / rank ORDER BY rank)
                   FILTER (WHERE rel = 1)),
               (acc, x) -> acc + x) AS ap_num,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(CASE rank {gain_case} END ORDER BY rank)
                   FILTER (WHERE rel = 1)),
               (acc, x) -> acc + x) AS dcg
      FROM evc GROUP BY query
    ),
    evm AS (
      SELECT e.query, e.hits,
             CAST(e.hits AS DOUBLE) / CAST({BM25_TOP_K} AS DOUBLE) AS p,
             CASE WHEN COALESCE(n.n_rel, 0) > 0
                  THEN CAST(e.hits AS DOUBLE) / n.n_rel
                  ELSE 0.0 END AS rc,
             CASE WHEN e.first_rel IS NOT NULL
                  THEN CAST(1.0 AS DOUBLE) / e.first_rel
                  ELSE 0.0 END AS mrr,
             CASE WHEN COALESCE(n.n_rel, 0) > 0
                  THEN e.ap_num / CAST(least(n.n_rel, {BM25_TOP_K})
                                       AS DOUBLE)
                  ELSE 0.0 END AS ap,
             CASE WHEN COALESCE(n.n_rel, 0) > 0
                  THEN e.dcg / (CASE least(n.n_rel, {BM25_TOP_K})
                                {ideal_case} END)
                  ELSE 0.0 END AS ndcg
      FROM evq e LEFT JOIN nrel n ON n.query = e.query
    ),
    evsel AS (
      SELECT query, hits, 'p' AS metric, p AS val FROM evm
      UNION ALL SELECT query, hits, 'recall', rc FROM evm
      UNION ALL SELECT query, hits, 'mrr', mrr FROM evm
      UNION ALL SELECT query, hits, 'ap', ap FROM evm
      UNION ALL SELECT query, hits, 'ndcg', ndcg FROM evm
    ),
    {_mmr_ctes(MMR_K)},
    {_maxsim_ctes()}
    SELECT 'tfidf' AS mode, doc_id, term AS top_term, tf_count,
           round(CAST(tfidf_raw AS DOUBLE), 6) AS tfidf
    FROM r WHERE rn = 1
    UNION ALL
    SELECT 'bm25', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM br WHERE rn <= {BM25_TOP_K}
    UNION ALL
    -- bm25idx branch: the PERSISTENT-index serve must equal the
    -- in-session scorer bit-for-bit (shared score expression, df and
    -- corpus stats recomputed from the stored postings), so its
    -- oracle IS the bm25 derivation under the branch's own label
    SELECT 'bm25idx', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM br WHERE rn <= {BM25_TOP_K}
    UNION ALL
    SELECT 'rrf', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM fr WHERE rn <= {BM25_TOP_K}
    UNION ALL
    SELECT 'eval', CAST(NULL AS BIGINT), query || '|' || metric,
           CAST(hits AS BIGINT), round(val, 6)
    FROM evsel
    UNION ALL
    -- maxsim branch: late-interaction retrieval, rank per query
    SELECT 'maxsim', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM msr WHERE rn <= {BM25_TOP_K}
    UNION ALL
    -- maxsimidx branch: the PERSISTENT chunk-vector index serve must
    -- equal the in-session scorer bit-for-bit (integer-valued vectors
    -- + exact doubles round-trip parquet; shared _maxsim_score), so
    -- its oracle IS the maxsim derivation under its own label — the
    -- ivfflat_idx/bm25idx artifact contract
    SELECT 'maxsimidx', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM msr WHERE rn <= {BM25_TOP_K}
    UNION ALL
    SELECT 'rerank', doc_id, query, CAST(rn AS BIGINT), round(score, 6)
    FROM rer WHERE rn <= {BM25_TOP_K}
    UNION ALL
    -- mmr branch: greedy diversified picks over the bm25 shortlist
    SELECT 'mmr', doc_id, query, CAST(pick AS BIGINT),
           {P.round_dbl('mmr', 6, D)}
    FROM mmall
    """


@query(
    "q55_tfidf_top_term",
    branches=(
        "tfidf", "bm25", "bm25idx", "rrf", "eval", "maxsim", "maxsimidx",
        "rerank", "mmr",
    ),
    oracle=_q55_sql(),
)
@build_memo
def q55_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``tfidf``: highest-tf-idf term per document (tie →
    lexicographic). ``bm25`` (round 8): operators.retrieval
    .bm25_top_docs — top-5 documents per fixed two-term query by Okapi
    BM25 over the same whitespace tokens; the inverted-index serving
    shape (broadcast query terms, candidate-pruned postings,
    term-ordered IEEE score fold) driver-VALUE-checked against
    DuckDB's independent rederivation. top_term carries the query
    string, tf_count the rank. ``rrf`` (round 8): hybrid-retrieval
    fusion — ``rrf_fuse`` over the bm25 ranking and the integer-exact
    ``term_overlap_top_docs`` ranking, the ranker-agnostic combiner a
    BM25+ANN hybrid deploys, with the oracle re-deriving both voters
    and the ranker-ordered contribution fold. ``bm25idx`` (round 9):
    the persistent-index serve path driver-checked end to end — the
    query WRITES the inverted index (``bm25_index_write``) to a temp
    dir and serves the same queries from the stored postings
    (``bm25_index_query``: driver-side bucket pruning + In(term)
    row-group skipping, df/n_docs/tot_dl recomputed from the
    artifact); the oracle rows are the bm25 derivation verbatim
    because the serve contract is bit-identity with the in-session
    scorer. ``eval`` (round 9): the retrieval eval harness —
    ``retrieval_eval`` scoring the bm25 ranking against
    contains-all-query-terms labels (``all_terms_qrels``), one row per
    (query, metric) for p/recall/mrr/ap/ndcg@k — rational metrics are
    exact integer-count divisions, and nDCG's log2 discounts are
    compile-time Python constants spliced into BOTH dialects
    (``ndcg_tables``), so no libm runs inside either engine; top_term
    carries 'query|metric', tf_count the hit count. ``maxsim`` (round
    10): late-interaction retrieval — ``maxsim_top_docs`` scoring the
    same query set by ColBERT's MaxSim over chunk-grain signed
    feature-hash vectors (each query token takes its best-matching
    passage, contributions clamped at zero so non-colliding pairs
    never reach the exchange); the oracle re-derives chunking,
    hashing-trick vectors, the max and the tidx-ordered fold
    end-to-end, with query vectors as shared integer literals.
    ``maxsimidx`` (round 10): the persistent chunk-vector index serve
    (maxsim_index_write/query) — featurize once, serve many; loaded
    serve is bit-identical to the in-session scorer (integer vectors
    + exact doubles round-trip parquet, shared _maxsim_score), so its
    oracle is the maxsim derivation under its own label. ``rerank``
    (round 10): two-stage retrieve-then-rerank (maxsim_rerank) — BM25
    top-20 shortlist rescored by MaxSim over CANDIDATE docs only;
    per-(query, doc) MaxSim is pool-independent, so the oracle
    restricts its corpus-wide msagg to the shortlist (zero-score BM25
    hits kept at 0, ranks re-derived).

    Memoized per (session, corpus): the nine-branch union costs ~3.5 s
    of py4j plan construction per build on top of the first call's
    eager index writes."""
    import atexit
    import os
    import shutil
    import tempfile

    from .operators.retrieval import (
        all_terms_qrels,
        bm25_index_query,
        bm25_index_write,
        bm25_top_docs,
        maxsim_index_query,
        maxsim_index_write,
        maxsim_top_docs,
        retrieval_eval,
        rrf_fuse,
        term_overlap_top_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    tfidf = tfidf_top_terms(docs).select(
        F.lit("tfidf").alias("mode"), "doc_id", "top_term", "tf_count",
        "tfidf",
    )
    # the BM25 ranking fans out into FIVE consumers (bm25 rows, the
    # rrf voter, the eval harness, mmr's shortlist, and rerank's
    # stage-1 candidates) — score ONCE at the deepest k needed
    # (rerank's k1) and slice: rank is a row_number over the same
    # (score DESC, doc_id) order, so the k1-ranking filtered to
    # rank <= top_k IS the top_k ranking bitwise. Persisted so the
    # full postings-scoring tree is planned and executed once per
    # invocation instead of once per consumer (guide §2.4: shared
    # subtree, one exchange).
    bmr_k1 = persist_tracked(
        bm25_top_docs(docs, list(BM25_QUERIES), top_k=RERANK_K1)
    )
    bmr = bmr_k1.filter(F.col("rank") <= BM25_TOP_K)
    bm = bmr.select(
        F.lit("bm25").alias("mode"),
        "doc_id",
        F.col("query").alias("top_term"),
        F.col("rank").cast("long").alias("tf_count"),
        F.round("score", 6).alias("tfidf"),
    )
    fused = rrf_fuse(
        [
            bmr,
            term_overlap_top_docs(
                docs, list(BM25_QUERIES), top_k=BM25_TOP_K
            ),
        ],
        top_k=BM25_TOP_K,
    ).select(
        F.lit("rrf").alias("mode"),
        "doc_id",
        F.col("query").alias("top_term"),
        F.col("rank").cast("long").alias("tf_count"),
        F.round("score", 6).alias("tfidf"),
    )
    # the chunk-vector featurization fans out into both late-
    # interaction children (maxsim scores it in-session, maxsimidx's
    # artifact build writes the same frame) — persist it once per
    # (session, corpus), constructed HERE so the overlapped index
    # writes below can share it
    from .operators.overlap import build_overlapped
    from .operators.retrieval import _maxsim_score, maxsim_chunk_vectors

    ch = persist_tracked(
        maxsim_chunk_vectors(
            docs, dim=MAXSIM_DIM, n_hashes=MAXSIM_HASHES,
            chunk_size=CHUNK_SIZE, stride=STRIDE,
        )
    )

    # build the persistent indexes inside the query (the build is the
    # one-time 100 TB pass; the serve is what a fresh session pays)
    # and serve the same query set from the artifacts; the builds
    # cache per corpus dir so repeated invocations (double-runs,
    # branch timings) pay serve-only — the deployment contract. The
    # two writes are independent one-time passes: overlapped in two
    # driver threads (guide §2.6), with the maxsim write reusing the
    # session's persisted featurization (one corpus featurize pass,
    # not one per consumer).
    idx_dir = _Q55_IDX_CACHE.get(sf_dir)
    ms_dir = _Q55_MS_IDX_CACHE.get(sf_dir)
    writes: dict = {}
    if idx_dir is None or not os.path.isdir(idx_dir):
        idx_dir = tempfile.mkdtemp(prefix="q55_bm25idx_")
        atexit.register(shutil.rmtree, idx_dir, ignore_errors=True)
        writes["bm25"] = lambda: bm25_index_write(
            docs, idx_dir, num_buckets=8
        )
    if ms_dir is None or not os.path.isdir(ms_dir):
        ms_dir = tempfile.mkdtemp(prefix="q55_maxsimidx_")
        atexit.register(shutil.rmtree, ms_dir, ignore_errors=True)
        writes["maxsim"] = lambda: maxsim_index_write(
            docs, ms_dir, dim=MAXSIM_DIM, n_hashes=MAXSIM_HASHES,
            chunk_size=CHUNK_SIZE, stride=STRIDE, vectors=ch,
        )
    # mmr's eager greedy rounds are the build's only OTHER
    # driver-synchronized section, and their first job materializes
    # the persisted bmr_k1 (the full BM25 postings pass, ~4.5 s at
    # sf0.1) — a third overlapped thread, so the scoring pass
    # back-fills the executor slots the index writes leave idle
    # (guide §2.6) instead of running after them.
    from .operators.retrieval import mmr_diversify

    sections: dict = dict(writes)
    sections["mmr"] = lambda: mmr_diversify(bmr, docs, k=MMR_K)
    built = build_overlapped(sections)
    if writes:
        _Q55_IDX_CACHE[sf_dir] = idx_dir
        _Q55_MS_IDX_CACHE[sf_dir] = ms_dir
    idx = bm25_index_query(
        spark, idx_dir, list(BM25_QUERIES), top_k=BM25_TOP_K
    ).select(
        F.lit("bm25idx").alias("mode"),
        "doc_id",
        F.col("query").alias("top_term"),
        F.col("rank").cast("long").alias("tf_count"),
        F.round("score", 6).alias("tfidf"),
    )
    ev = retrieval_eval(
        bmr,
        all_terms_qrels(docs, list(BM25_QUERIES)),
        k=BM25_TOP_K,
    ).select(
        F.lit("eval").alias("mode"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("query"),
        F.col("hits_at_k").cast("long").alias("tf_count"),
        F.expr(
            "stack(5, 'p', round(p_at_k, 6),"
            " 'recall', round(recall_at_k, 6),"
            " 'mrr', round(mrr_at_k, 6),"
            " 'ap', round(ap_at_k, 6),"
            " 'ndcg', round(ndcg_at_k, 6)) AS (metric, tfidf)"
        ),
    ).select(
        "mode",
        "doc_id",
        F.concat_ws("|", "query", "metric").alias("top_term"),
        "tf_count",
        "tfidf",
    )
    def _ms_shape(df: DataFrame, mode: str) -> DataFrame:
        return df.select(
            F.lit(mode).alias("mode"),
            "doc_id",
            F.col("query").alias("top_term"),
            F.col("rank").cast("long").alias("tf_count"),
            F.round("score", 6).alias("tfidf"),
        )

    ms = _ms_shape(
        _maxsim_score(
            ch, list(BM25_QUERIES), BM25_TOP_K,
            MAXSIM_HASHES, MAXSIM_DIM,
        ),
        "maxsim",
    )
    # maxsimidx: serve from the artifact the overlapped write above
    # produced (the bm25idx discipline)
    ms_idx = _ms_shape(
        maxsim_index_query(
            spark, ms_dir, list(BM25_QUERIES), top_k=BM25_TOP_K
        ),
        "maxsimidx",
    )
    # rerank: the two-stage production shape — BM25 top-k1 shortlist,
    # MaxSim rescoring of the CANDIDATE docs only (featurization
    # bounded by the shortlist, never the corpus)
    from .operators.retrieval import maxsim_rerank

    # stage-1 candidates = the persisted k1-ranking (identical to the
    # BM25 run rerank would make itself), so rerank's exec cost is the
    # candidate featurize + score only — the corpus-touching postings
    # pass is not run a second time
    rr = _ms_shape(
        maxsim_rerank(
            docs, list(BM25_QUERIES), k1=RERANK_K1, top_k=BM25_TOP_K,
            dim=MAXSIM_DIM, n_hashes=MAXSIM_HASHES,
            chunk_size=CHUNK_SIZE, stride=STRIDE, candidates=bmr_k1,
            vectors=ch,
        ),
        "rerank",
    )
    # mmr (round 11): greedy MMR diversification of the bm25 shortlist
    # (operators.retrieval.mmr_diversify) — rel and the token-set
    # Jaccard enter every argmax via the tie-safe rounder, so the
    # oracle's unrolled greedy rounds reproduce the picks exactly.
    # local single-task greedy (the shortlist is serve-page-constant
    # sized); the unrolled distributed twin stays available under
    # local=False and is pinned equal by tests/test_retrieval.py.
    # Built in the overlapped section above.
    mmr = built["mmr"].select(
        F.lit("mmr").alias("mode"),
        "doc_id",
        F.col("query").alias("top_term"),
        F.col("pick").alias("tf_count"),
        F.expr(P.round_dbl("mmr", 6, P.SPARK)).alias("tfidf"),
    )
    return (
        tfidf.unionByName(bm)
        .unionByName(idx)
        .unionByName(fused)
        .unionByName(ev)
        .unionByName(ms)
        .unionByName(ms_idx)
        .unionByName(rr)
        .unionByName(mmr)
    )


# --- q56: embedding L2-normalize + int8 quantization ----------------------

# pq_tr branch (round 10): TRAINED product-quantization codebook
# inside a driver-value-checked row — per-subspace L2 Lloyd's with the
# exact-reproducible core (KNN.pq_codebook_exact), re-derived bitwise
# by one unrolled kmeans_exact_cent_ctes chain PER SUBSPACE. The q46
# ivf_tr discipline applied to the second quantizer family.
PQ_TR_CODES = 4
PQ_TR_ITERS = 2
PQ_TR_SAMPLE = 128
_PQ_TR_CHAINS = ",\n    ".join(
    KNN.kmeans_exact_cent_ctes(
        PQ_TR_CODES, PQ_TR_ITERS, PQ_DSUB, PQ_TR_SAMPLE,
        metric="l2", slice_at=(j * PQ_DSUB + 1, PQ_DSUB),
        prefix=f"kb{j}",
    )
    for j in range(PQ_M)
)
_PQ_TR_CB_UNION = " UNION ALL ".join(
    f"SELECT {j} AS j, cid AS code, cv FROM kb{j}cent"
    for j in range(PQ_M)
)


@query(
    "q56_quantize_embeddings",
    branches=("int8", "pq", "ivfpq", "adc", "pq_tr"),
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt({P.dot('embedding', 'embedding', D)}) AS l2_raw
      FROM embeddings
    ),
    cb AS (
      SELECT vec_id AS code, embedding AS cv FROM embeddings
      WHERE vec_id < {PQ_CODES}
    ),
    sub AS (
      SELECT e.vec_id, j.j, cb.code,
             {P.l2sq(
                 P.slice_('e.embedding', f'j.j * {PQ_DSUB} + 1', PQ_DSUB, D),
                 P.slice_('cb.cv', f'j.j * {PQ_DSUB} + 1', PQ_DSUB, D),
                 D)} AS d2
      FROM embeddings e
      CROSS JOIN (SELECT unnest(range({PQ_M})) AS j) j
      CROSS JOIN cb
    ),
    best AS (
      SELECT vec_id, j, code,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d2, code) AS rn
      FROM sub
    ),
    pq AS (
      SELECT vec_id,
             string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS qvec
      FROM best WHERE rn = 1 GROUP BY vec_id
    ),
    cent8 AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id < {IVFPQ_CELLS}
    ),
    assn AS (
      SELECT e.vec_id, e.embedding, cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {P.cosine('e.embedding', 'cv', D)} DESC, cid
             ) AS rn
      FROM embeddings e CROSS JOIN cent8
    ),
    cells2 AS (
      SELECT vec_id, embedding, cid AS cell FROM assn WHERE rn = 1
    ),
    res AS (
      SELECT c.vec_id, c.cell,
             {P.transform_(
                 P.seq_incl('1', 'len(c.embedding)', D), 'i',
                 'CAST(c.embedding[i] AS DOUBLE)'
                 ' - CAST(cv.cv[i] AS DOUBLE)', D)} AS r
      FROM cells2 c JOIN cent8 cv ON cv.cid = c.cell
    ),
    rcb AS (
      SELECT vec_id AS code, r AS crv FROM res WHERE vec_id < {PQ_CODES}
    ),
    sub2 AS (
      SELECT r.vec_id, j.j, rcb.code,
             {P.l2sq(
                 P.slice_('r.r', f'j.j * {PQ_DSUB} + 1', PQ_DSUB, D),
                 P.slice_('rcb.crv', f'j.j * {PQ_DSUB} + 1', PQ_DSUB, D),
                 D)} AS d2
      FROM res r
      CROSS JOIN (SELECT unnest(range({PQ_M})) AS j) j
      CROSS JOIN rcb
    ),
    best2 AS (
      SELECT vec_id, j, code,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d2, code) AS rn
      FROM sub2
    ),
    ivfpq AS (
      SELECT b.vec_id,
             CAST(c.cell AS VARCHAR) || '|'
               || string_agg(CAST(b.code AS VARCHAR), ',' ORDER BY b.j)
               AS qvec
      FROM best2 b JOIN cells2 c ON c.vec_id = b.vec_id
      WHERE b.rn = 1 GROUP BY b.vec_id, c.cell
    ),
    -- ADC serving: `sub` restricted to query ids IS the per-query
    -- LUT (exact subspace distances to every codeword); a neighbor's
    -- approx d2 is the j-ordered left fold of its codes' LUT entries
    -- -- the same fold order pq_adc_score's m-term '+' chain uses
    qlut AS (
      SELECT vec_id AS query_id, j, code, d2 FROM sub
      WHERE vec_id < {ADC_NQ}
    ),
    ncode AS (
      SELECT vec_id AS neighbor_id, j, code FROM best WHERE rn = 1
    ),
    aterm AS (
      SELECT q.query_id, n.neighbor_id, q.j, q.d2
      FROM qlut q JOIN ncode n ON n.j = q.j AND n.code = q.code
      WHERE q.query_id <> n.neighbor_id
    ),
    afold AS (
      SELECT query_id, neighbor_id,
             {P.fold('list(d2 ORDER BY j)', 'CAST(0 AS DOUBLE)',
                     'acc', 'x', 'acc + x', D)} AS d2s
      FROM aterm GROUP BY query_id, neighbor_id
    ),
    arank AS (
      SELECT query_id, neighbor_id, d2s,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2s, neighbor_id) AS rn
      FROM afold
    ),
    -- pq_tr: trained codebooks (one exact-Lloyd's chain per
    -- subspace), then the same argmin-encode derivation as `pq` with
    -- the trained per-subspace codewords
    {_PQ_TR_CHAINS},
    kbcb AS ({_PQ_TR_CB_UNION}),
    tsub AS (
      SELECT e.vec_id, k.j, k.code,
             {P.l2sq(
                 P.slice_('e.embedding', f'k.j * {PQ_DSUB} + 1',
                          PQ_DSUB, D),
                 'k.cv', D)} AS d2
      FROM embeddings e CROSS JOIN kbcb k
    ),
    tbest AS (
      SELECT vec_id, j, code,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY d2, code) AS rn
      FROM tsub
    ),
    tpq AS (
      SELECT vec_id,
             string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS qvec
      FROM tbest WHERE rn = 1 GROUP BY vec_id
    )
    SELECT 'int8' AS mode, vec_id,
           round(CAST(l2_raw AS DOUBLE), 6) AS l2_norm,
           {P.join_str(
               P.transform_(
                   'embedding', 'x',
                   'CAST(CAST(CASE WHEN l2_raw = 0 THEN 0'
                   ' ELSE floor(CAST(x AS DOUBLE) * 127 / l2_raw + 0.5)'
                   ' END AS BIGINT) AS VARCHAR)', D),
               ',', D)} AS qvec,
           {P.size_('embedding', D)} AS n_dims
    FROM base
    UNION ALL
    SELECT 'pq', vec_id, CAST(NULL AS DOUBLE), qvec, {PQ_M} FROM pq
    UNION ALL
    SELECT 'ivfpq', vec_id, CAST(NULL AS DOUBLE), qvec, {PQ_M} FROM ivfpq
    UNION ALL
    SELECT 'adc', query_id, round(CAST(d2s AS DOUBLE), 6),
           CAST(neighbor_id AS VARCHAR), CAST(rn AS INTEGER)
    FROM arank WHERE rn <= 3
    UNION ALL
    SELECT 'pq_tr', vec_id, CAST(NULL AS DOUBLE), qvec, {PQ_M} FROM tpq
    """,
)
@build_memo
def q56_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression, every index format in one driver row
    (round-5 tag merge). ``int8``: per-vector L2-normalized int8 lanes
    — 4× smaller storage. ``pq``: product-quantization codes
    (KNN.pq_encode, m=8 subspaces × 16 codewords = 8 bytes/vector,
    32×) — the encode is a ZERO-shuffle scan pass with the codebook
    spliced as exact double literals; the oracle re-derives the
    codebook (first 16 vectors' subvectors, the deterministic-sample
    convention) and the per-subspace argmin IN SQL, with ties falling
    to the lowest code in both engines (array_position-of-min vs
    row_number ORDER BY d2, code over bit-identical d² folds).
    ``ivfpq``: the FAISS-style composition (KNN.ivf_pq_index) — coarse
    cell + PQ codes of the RESIDUAL, serialized ``cell|c0,..,c7``; the
    oracle re-derives cells, residuals, the residual codebook, and the
    argmin entirely in SQL over the same IEEE folds.

    ``adc`` (round 8): the SERVING half — ``KNN.pq_adc_score`` top-3
    per query over the same encoded corpus (the broadcast-LUT plan the
    persistent-index path serves with); the oracle re-derives each
    query's LUT (the ``sub`` CTE restricted to query ids), folds each
    neighbor's code lookups j-ordered (``list_reduce`` = the scorer's
    left-to-right '+' chain), and ranks by (d2, neighbor) — the ADC
    scorer is now driver-value-checked, not just expression-twin
    pinned. Columns shoehorn into the slot contract: vec_id=query,
    l2_norm=approx_d2, qvec=neighbor id, n_dims=rank.

    ``pq_tr`` (round 10): a TRAINED codebook inside a
    driver-value-checked row — ``KNN.pq_codebook_exact`` (per-subspace
    L2 Lloyd's with the pinned-IEEE core of q46's ``ivf_tr``) feeds
    the same zero-shuffle ``pq_encode`` scan, and the oracle
    re-derives the TRAINING itself (one unrolled assignment/update
    CTE chain per subspace, bitwise codewords) before re-deriving the
    argmin encode.

    Memoized per (session, corpus) — the q41/q54/q55 convention: the
    five-branch union's spliced-codebook plans cost ~4 s of py4j
    construction per invocation and the bench invokes the slot six
    times (main loop + five branch timings)."""
    from .catalog import load_head_rows

    emb = load_table(spark, sf_dir, "embeddings")
    int8 = KNN.quantize_embeddings(emb)
    # ONE memoized head collect feeds every build-artifact sample in
    # this slot (PQ codebook id<16, ADC queries id<ADC_NQ, trained
    # codebook sample id<128, IVF-PQ cells id<8 + residual sample
    # id<16) — five scan+sort+collect jobs per invocation before; the
    # memo is shared with q46's identical head (guide §7.3)
    head = load_head_rows(
        spark, sf_dir, "embeddings",
        max(PQ_TR_SAMPLE, PQ_CODES, IVFPQ_CELLS, ADC_NQ),
    )
    cb = KNN.pq_codebook(emb, m=PQ_M, num_codes=PQ_CODES, head_rows=head)
    enc_pq = KNN.pq_encode(emb, cb)
    qrows = [r for r in head if int(r[0]) < ADC_NQ]
    adc = KNN.pq_adc_score(enc_pq, cb, qrows, k=3).select(
        F.col("query_id").alias("vec_id"),
        F.col("approx_d2").alias("l2_norm"),
        F.col("neighbor_id").cast("string").alias("qvec"),
        F.col("knn_rank").cast("int").alias("n_dims"),
    )
    pq = enc_pq.select(
        F.col("vec_id"),
        F.lit(None).cast("double").alias("l2_norm"),
        F.expr(
            "concat_ws(',', transform(codes, c -> CAST(c AS STRING)))"
        ).alias("qvec"),
        F.lit(PQ_M).cast("int").alias("n_dims"),
    )
    # pq_tr (round 10): exact-reproducible TRAINED codebook — encode
    # stays the same zero-shuffle spliced-literal scan; the oracle
    # re-derives the per-subspace training itself
    cb_tr = KNN.pq_codebook_exact(
        emb, m=PQ_M, num_codes=PQ_TR_CODES,
        iterations=PQ_TR_ITERS, sample_n=PQ_TR_SAMPLE, head_rows=head,
    )
    pq_tr = KNN.pq_encode(emb, cb_tr).select(
        F.col("vec_id"),
        F.lit(None).cast("double").alias("l2_norm"),
        F.expr(
            "concat_ws(',', transform(codes, c -> CAST(c AS STRING)))"
        ).alias("qvec"),
        F.lit(PQ_M).cast("int").alias("n_dims"),
    )
    enc3, _, _ = KNN.ivf_pq_index(
        emb, num_centroids=IVFPQ_CELLS, m=PQ_M, num_codes=PQ_CODES,
        persist=False, head_rows=head,
    )
    ivfpq = enc3.select(
        F.col("vec_id"),
        F.lit(None).cast("double").alias("l2_norm"),
        F.expr(
            "CAST(cell AS STRING) || '|' ||"
            " concat_ws(',', transform(codes, c -> CAST(c AS STRING)))"
        ).alias("qvec"),
        F.lit(PQ_M).cast("int").alias("n_dims"),
    )
    cols = ["vec_id", "l2_norm", "qvec", "n_dims"]
    return (
        int8.select(F.lit("int8").alias("mode"), *cols)
        .unionByName(pq.select(F.lit("pq").alias("mode"), *cols))
        .unionByName(ivfpq.select(F.lit("ivfpq").alias("mode"), *cols))
        .unionByName(adc.select(F.lit("adc").alias("mode"), *cols))
        .unionByName(pq_tr.select(F.lit("pq_tr").alias("mode"), *cols))
    )


# --- q57: near-dup connected components -----------------------------------

# leak branch: assign_split's default 80/10/10 content-hash ratios,
# spliced into both dialects so the per-doc assignment — and therefore
# the spanning-cluster set — is value-checked end to end
_LEAK_RATIOS = (("train", 0.8), ("val", 0.1), ("test", 0.1))

# mine_hard branch (round 10): hard-negative mining parameters — the
# curriculum's hard end next to mine_neg's cheap random picks
_HARD_NEG_ANCHORS = 8
# bfs branch (round 10): chain-depth audit hop budget
_BFS_MAX_HOPS = 4
_HARD_NEG_K = 2
# pr branch (round 11): power-iteration rounds for the duplicate-mass
# centrality walk (operators.components.pagerank) — unrolled into both
# plans, so keep small
_PR_ITERS = 3


def _q57_pr_ctes(iterations: int = _PR_ITERS) -> str:
    """Unrolled PageRank CTE chain for the q57 oracle: re-derives the
    STAR-CONTRACTED edge set (neardup.simhash_components_edges — star
    to the min-id rep per distinct sketch + banded rep pairs), then
    folds each power-iteration round with the house sorted-list fold
    so every rank matches operators.components.pagerank bitwise."""
    ctes = f"""
    prreps AS (SELECT simhash, min(doc_id) AS rep FROM sh GROUP BY simhash),
    prrt AS (SELECT rep AS doc_id, simhash FROM prreps),
    prstar AS (
      SELECT r.rep AS doc_a, s.doc_id AS doc_b
      FROM sh s JOIN prreps r ON r.simhash = s.simhash
      WHERE s.doc_id <> r.rep
    ),
    prb AS ({QL._simhash_bands_sql('prrt')}),
    prrp AS (
      SELECT doc_a, doc_b FROM (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM prb a JOIN prb b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
      ) WHERE bit_count(xor(sa, sb)) <= 3
    ),
    prund AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM prstar
      UNION ALL SELECT doc_b, doc_a FROM prstar
      UNION ALL SELECT doc_a, doc_b FROM prrp
      UNION ALL SELECT doc_b, doc_a FROM prrp
    ),
    prdeg AS MATERIALIZED (
      SELECT src, count(*) AS deg FROM prund GROUP BY src
    ),
    prn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
    pr0 AS (
      SELECT doc_id AS node, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS r
      FROM documents, prn
    )"""
    for t in range(1, iterations + 1):
        ctes += f""",
    pc{t} AS (
      SELECT u.dst AS node,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(p.r / CAST(g.deg AS DOUBLE) ORDER BY u.src)),
               (acc, x) -> acc + x) AS c
      FROM prund u JOIN pr{t - 1} p ON p.node = u.src
                   JOIN prdeg g ON g.src = u.src
      GROUP BY u.dst
    ),
    pr{t} AS (
      SELECT d.doc_id AS node,
             CAST('0.15' AS DOUBLE) / CAST(n AS DOUBLE)
             + CAST('0.85' AS DOUBLE)
               * COALESCE(c.c, CAST(0.0 AS DOUBLE)) AS r
      FROM documents d CROSS JOIN prn
      LEFT JOIN pc{t} c ON c.node = d.doc_id
    )"""
    return ctes


@query(
    "q57_neardup_components",
    branches=(
        "comp", "leak", "mine_pos", "mine_neg", "mine_hard", "inc", "bfs",
        "gsplit", "pr",
    ),
    oracle=f"""
    WITH RECURSIVE thv AS (
      SELECT doc_id, {P.token_hash_array('text', D)} AS thv FROM documents
    ),
    sh AS (
      SELECT doc_id, {P.simhash_from_hashes('thv', D)} AS simhash FROM thv
    ),
    bands AS ({QL._simhash_bands_sql()}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    comp(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT u.dst, c.lab FROM comp c JOIN und u ON u.src = c.node
    ),
    -- MATERIALIZED: five arms reference the labels; without it DuckDB
    -- re-evaluates the recursive closure per reference (measured
    -- 38.8 s -> 3.4 s at sf0.01, round 10)
    labeled AS MATERIALIZED (
      SELECT node AS doc_id, min(lab) AS component_id FROM comp GROUP BY node
    ),
    sized AS (
      SELECT doc_id, component_id,
             count(*) OVER (PARTITION BY component_id) AS component_size
      FROM labeled
    ),
    -- leak branch: clusters spanning the content-hash train/val/test
    -- split (sampling.assign_split's default ratios, spliced
    -- identically) — exact dups can't leak by construction, so every
    -- spanning cluster is a NEAR-dup leaking eval signal into train
    splitd AS (
      SELECT s.component_id, s.component_size,
             ({P.split_assign('d.text', list(_LEAK_RATIOS), D)}) AS split
      FROM sized s JOIN documents d ON d.doc_id = s.doc_id
      WHERE s.component_size > 1
    ),
    leak AS (
      SELECT component_id, max(component_size) AS component_size,
             count(DISTINCT split) AS n_splits,
             string_agg(DISTINCT split, ',' ORDER BY split) AS splits_csv
      FROM splitd GROUP BY component_id
      HAVING count(DISTINCT split) > 1
    ),
    -- mine branches: contrastive training pairs from the SAME labels
    -- (operators.mining.contrastive_pairs) — star-edge positives,
    -- seeded-hash bucket-local negatives, all md5-derived so the
    -- re-derivation here matches the Spark picks exactly
    mnb AS (SELECT GREATEST(COUNT(*) // 64, 1) AS nb FROM labeled),
    mbk AS (
      SELECT doc_id, component_id,
             ({P.token_hash32(
                 "CONCAT(CAST(doc_id AS VARCHAR), ':b7')", D)}
              % (SELECT nb FROM mnb)) AS bucket
      FROM labeled
    ),
    mcand AS (
      SELECT a.doc_id AS anchor, c.doc_id AS partner
      FROM mbk a JOIN mbk c
        ON a.bucket = c.bucket AND a.doc_id <> c.doc_id
       AND a.component_id <> c.component_id
    ),
    mneg AS (
      SELECT anchor, partner FROM (
        SELECT anchor, partner,
               row_number() OVER (
                 PARTITION BY anchor
                 ORDER BY {P.token_hash32(
                     "CONCAT(CAST(anchor AS VARCHAR), ':', "
                     "CAST(partner AS VARCHAR), ':n7')", D)},
                          partner) AS rn
        FROM mcand
      ) WHERE rn <= 1
    ),
    -- mine_hard branch: hard negatives (operators.mining
    -- .hard_negative_pairs) — per anchor embedding, the top-k
    -- cosine-nearest vectors NOT in the anchor's near-dup component
    -- (embeddings.vec_id shares the documents.doc_id id space);
    -- the rank is the same two-phase top-k the Spark side runs
    hne AS (
      SELECT e.vec_id AS id, e.embedding AS v,
             COALESCE(l.component_id, e.vec_id) AS cid
      FROM embeddings e LEFT JOIN labeled l ON l.doc_id = e.vec_id
    ),
    hq AS (SELECT id AS anchor, v AS qv, cid AS qc FROM hne
           WHERE id < {_HARD_NEG_ANCHORS}),
    hsc AS (
      SELECT q.anchor, c.id AS partner,
             {P.cosine('q.qv', 'c.v', D)} AS cos
      FROM hne c JOIN hq q
        ON c.id <> q.anchor AND c.cid <> q.qc
    ),
    hrk AS (
      SELECT anchor, partner, cos,
             row_number() OVER (PARTITION BY anchor
                                ORDER BY cos DESC, partner) AS rk
      FROM hsc
    ),
    -- inc branch: distinct components ranked ascending pair up
    -- (2k-1 <-> 2k); each even-ranked component relabels to its
    -- odd-ranked (smaller-id) partner — the one-step closure of a
    -- disjoint pairing
    icrk AS (
      SELECT c, row_number() OVER (ORDER BY c) AS rk
      FROM (SELECT DISTINCT component_id AS c FROM labeled)
    ),
    ipair AS (
      SELECT e.c AS hi, o.c AS lo
      FROM icrk o JOIN icrk e ON e.rk = o.rk + 1 AND o.rk % 2 = 1
    ),
    ifinal AS (
      SELECT l.doc_id, COALESCE(p.lo, l.component_id) AS component_id
      FROM labeled l LEFT JOIN ipair p ON p.hi = l.component_id
    )
    ,
    -- bfs branch: hop distance from each cluster's canonical doc
    -- over the FULL pair graph (dedup chain-depth audit) — the walk
    -- explores every path prefix to max_hops, then each node keeps
    -- its (shortest hop, smallest root) row = the frontier loop's
    -- first-reach claim
    walk(node, root, hop) AS (
      SELECT component_id, component_id, 0
      FROM (SELECT DISTINCT component_id FROM labeled)
      UNION
      SELECT u.dst, w.root, w.hop + 1
      FROM walk w JOIN und u ON u.src = w.node
      WHERE w.hop < {_BFS_MAX_HOPS}
    ),
    bfsd AS (
      SELECT node, root, hop FROM (
        SELECT node, root, hop,
               row_number() OVER (PARTITION BY node
                                  ORDER BY hop, root) AS rn
        FROM walk
      ) WHERE rn = 1
    ),
    -- gsplit branch: grouped leakage-safe split — every cluster takes
    -- its CANONICAL's content-hash split (sampling
    -- .assign_split_grouped), so spanning clusters are impossible;
    -- census per split + the zero-leak proof count
    gsc AS (
      SELECT l.component_id,
             ({P.split_assign('d.text', list(_LEAK_RATIOS), D)}) AS split
      FROM labeled l JOIN documents d ON d.doc_id = l.doc_id
      WHERE l.doc_id = l.component_id
    ),
    gdoc AS MATERIALIZED (
      SELECT l.doc_id, l.component_id, g.split
      FROM labeled l JOIN gsc g ON g.component_id = l.component_id
    ),
    gcensus AS (
      SELECT split, count(*) AS n_docs,
             count(DISTINCT component_id) AS n_comp
      FROM gdoc GROUP BY split
    ),
    gleaks AS (
      SELECT count(*) AS n_leaks FROM (
        SELECT component_id FROM gdoc
        GROUP BY component_id HAVING count(DISTINCT split) > 1
      )
    ),{_q57_pr_ctes()}
    SELECT 'comp' AS mode, doc_id, component_id, component_size,
           CAST(NULL AS BIGINT) AS n_splits,
           CAST(NULL AS VARCHAR) AS splits_csv,
           CAST(NULL AS DOUBLE) AS cosine
    FROM sized
    UNION ALL
    SELECT 'leak', CAST(NULL AS BIGINT), component_id, component_size,
           n_splits, splits_csv, CAST(NULL AS DOUBLE)
    FROM leak
    UNION ALL
    SELECT 'mine_pos', component_id, doc_id, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM labeled WHERE doc_id <> component_id
    UNION ALL
    SELECT 'mine_neg', anchor, partner, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM mneg
    UNION ALL
    SELECT 'mine_hard', anchor, partner, rk,
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           {P.round_dbl('cos', 6, D)}
    FROM hrk WHERE rk <= {_HARD_NEG_K}
    UNION ALL
    -- inc branch: the day-2 fold over a deterministic synthetic delta
    -- (twin attachments + DISJOINT component-pair merges) whose
    -- closure has a closed form: each even-ranked component relabels
    -- to its odd-ranked partner, twins take their doc's final label
    SELECT 'inc', doc_id, component_id, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM ifinal
    UNION ALL
    SELECT 'inc', doc_id + 1000000000, component_id,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
    FROM ifinal WHERE doc_id % 11 = 0
    UNION ALL
    SELECT 'bfs', node, root, CAST(hop AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS DOUBLE)
    FROM bfsd
    UNION ALL
    SELECT 'gsplit', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_docs, n_comp, split, CAST(NULL AS DOUBLE)
    FROM gcensus
    UNION ALL
    SELECT 'gsplit', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           n_leaks, CAST(NULL AS BIGINT), '__leaks__',
           CAST(NULL AS DOUBLE)
    FROM gleaks
    UNION ALL
    SELECT 'pr', node, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), r
    FROM pr{_PR_ITERS}
    """,
)
@build_memo
def q57_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters: transitive closure of the SimHash near-dup
    graph via distributed min-label propagation (see
    operators.components). The oracle computes the same fixpoint with
    a recursive CTE — identical labels (min doc_id per component),
    totally different execution: the CTE materializes full
    reachability (fine at sf0.01, quadratic-ish in component size);
    the Spark loop is O(diameter) shuffle-join rounds and is the shape
    that closes billion-edge dedup graphs.

    Round 4: the loop consumes STAR-CONTRACTED edges
    (neardup.simhash_components_edges) — identical-sketch groups
    connect via k−1 star edges instead of C(k,2) pairs, and banding
    runs on one representative per distinct sketch. Same transitive
    closure (the oracle still materializes it from the FULL pair set),
    ~100x less per-round shuffle on duplicate-heavy corpora
    (SCALE_PROBE.json).

    ``leak`` branch (round 9): the split-leakage audit
    (operators.report.split_leakage_report) — the components joined
    with the shipped content-hash train/val/test assignment
    (operators.sampling.assign_split), reporting every cluster that
    spans a split boundary. Exact duplicates can't leak (the split
    hashes content), so each spanning cluster is a NEAR-duplicate
    carrying eval text into train — the audit a data release runs
    after splitting. Columns shoehorn into the merged contract:
    doc_id is NULL, splits_csv the sorted distinct splits.

    ``bfs`` branch (round 10): the dedup CHAIN-DEPTH audit —
    frontier-iterative BFS (operators.components.bfs_hops: one
    shuffle join + anti-join + min-agg per round, frontier-sized
    after round 1) from each cluster's canonical doc over the full
    pair graph; the oracle re-walks every path prefix recursively and
    keeps each node's (shortest hop, smallest root) row. Deep chains
    are how LSH transitive closure drifts into merging unrelated
    documents — hop-to-representative is the release-review number.
    Columns shoehorn as component_size=hop.

    Memoized per (session, corpus): the three component loops run
    eagerly at DataFrame-build time, so re-building per branch-timing
    filter would re-pay them."""
    from .operators.neardup import simhash_components_edges, simhash_table
    from .operators.report import split_leakage_report
    from .operators.sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    # ONE sketch pass feeds the component edges AND the bfs branch's
    # contracted chain audit.
    sh = simhash_table(docs)
    # edges now fan out three ways (the full labeling + the inc
    # branch's old/delta splits) — persist so banding runs once
    edges = persist_tracked(
        simhash_components_edges(docs, max_hamming=3, sh_df=sh)
    )
    # the labeling fans out into four union children (comp/leak/
    # mine_pos/mine_neg) plus the miner's bucket-count job — persist
    # it once or every child re-runs the banding + the component loop
    comp = persist_tracked(
        connected_components(edges, nodes=docs, node_col="doc_id")
    )
    # inc (round 10): operators.components.incremental_components —
    # the day-2 path of the cluster table. Day 1 = the persisted full
    # labeling (comp — no rebuild: in production yesterday's labels
    # are an artifact, and the unit suite already folds REAL graph
    # splits back to full recomputes). The delta batch is synthetic
    # but deterministic in BOTH engines: every %11 doc gains a twin
    # node (doc_id + 10^9) with an attach edge, and the distinct
    # component ids, ranked ascending, pair up (rank 2k−1 ↔ 2k) with
    # one merge edge per pair. Pairs are DISJOINT, so the closure has
    # a CLOSED FORM — each even-ranked component relabels to its
    # odd-ranked partner (the smaller id), twins take their doc's
    # final label — which the oracle derives without recursion. The
    # fold exercises component merges, new-node attachment, and the
    # corpus-grain remap at delta cost.
    from pyspark.sql import Window as _W

    from .operators.components import incremental_components

    def _build_inc():
        comps = comp.select("component_id").distinct()
        # global rank over |components| rows — a small single-task sort
        crk = comps.withColumn(
            "__rk", F.row_number().over(_W.orderBy("component_id"))
        )
        odd = crk.filter(F.col("__rk") % 2 == 1).select(
            F.col("component_id").alias("doc_a"),
            (F.col("__rk") + 1).alias("__mate"),
        )
        even = crk.filter(F.col("__rk") % 2 == 0).select(
            F.col("component_id").alias("doc_b"),
            F.col("__rk").alias("__mate"),
        )
        merge_edges = odd.join(even, "__mate").select("doc_a", "doc_b")
        twin_edges = docs.filter(F.col("doc_id") % 11 == 0).select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_b"),
        )
        return incremental_components(
            comp,
            merge_edges.unionByName(twin_edges),
            twin_edges.select(F.col("doc_b").alias("doc_id")),
            "doc_id",
            broadcast=True,
        )

    sized = with_component_sizes(comp, "doc_id")
    leak = split_leakage_report(
        sized, assign_split(docs, list(_LEAK_RATIOS)), "doc_id", "split"
    )
    # gsplit (round 11): the FIX for what leak audits —
    # sampling.assign_split_grouped assigns whole near-dup clusters by
    # the canonical's content hash, so spanning clusters are
    # impossible by construction. Rows: one census row per split
    # (component_size=n_docs, n_splits=n_components, splits_csv=the
    # split) plus the PROOF row (splits_csv='__leaks__',
    # component_size = spanning-cluster count, which must be 0 — the
    # oracle re-derives both from the same labels).
    from .operators.sampling import assign_split_grouped

    gassigned = assign_split_grouped(docs, comp, list(_LEAK_RATIOS))
    gcensus = gassigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component_id").alias("n_comp"),
    )
    gleaks = (
        split_leakage_report(sized, gassigned, "doc_id", "split")
        .agg(F.count(F.lit(1)).alias("n_leaks"))
    )
    null_l = (
        F.lit(None).cast("bigint").alias("n_splits"),
        F.lit(None).cast("string").alias("splits_csv"),
    )
    # mine_pos/mine_neg (round 9): contrastive training pairs from the
    # SAME labels (operators.mining.contrastive_pairs) — star-edge
    # positives, seeded-hash bucket-local negatives; every choice is
    # md5-derived, so the oracle recomputes buckets, exclusions, and
    # the per-anchor hash-rank pick and matches the rows exactly.
    # Columns shoehorn as (doc_id=anchor, component_id=partner).
    from .operators.mining import contrastive_pairs

    # num_buckets = the operator's default formula, but fed from the
    # cheap parquet-metadata doc count instead of its internal
    # comp.count() (which would run the whole labeling once more at
    # build time — comp has exactly one row per doc)
    def _build_mined():
        return contrastive_pairs(
            comp, neg_per_anchor=1,
            num_buckets=max(1, docs.count() // 64),
        )

    null_sz = F.lit(None).cast("bigint").alias("component_size")
    null_cos = F.lit(None).cast("double").alias("cosine")

    def mine_child(flag: bool, mode: str):
        return mined.filter(F.col("is_positive") == flag).select(
            F.lit(mode).alias("mode"),
            F.col("anchor").alias("doc_id"),
            F.col("partner").alias("component_id"),
            null_sz, *null_l, null_cos,
        )

    # mine_hard (round 10): operators.mining.hard_negative_pairs — per
    # anchor embedding, the top-k cosine-nearest vectors OUTSIDE the
    # anchor's near-dup component (vec_id shares doc_id's id space, so
    # the SimHash labels transfer directly). The anchor side
    # broadcasts; the corpus streams through the scored join once;
    # the exclusion and the two-phase rank are re-derived in DuckDB,
    # so the exact pair picks AND their cosines are value-checked.
    from .operators.mining import hard_negative_pairs

    emb = load_table(spark, sf_dir, "embeddings")

    def _build_hard():
        return hard_negative_pairs(
            emb, comp, k=_HARD_NEG_K, num_anchors=_HARD_NEG_ANCHORS,
            comp_id_col="doc_id",
        ).select(
            F.lit("mine_hard").alias("mode"),
            F.col("anchor").alias("doc_id"),
            F.col("partner").alias("component_id"),
            F.col("neg_rank").cast("bigint").alias("component_size"),
            *null_l,
            F.col("cosine"),
        )

    # bfs (round 10; contracted round 11): dedup chain-depth audit —
    # frontier-iterative BFS from each cluster's canonical doc, with
    # FULL-similarity-graph hop semantics (the oracle's edge set) but
    # computed on the identical-sketch-contracted graph
    # (neardup.simhash_chain_hops — exact, hop-preserving: same-sketch
    # docs share their entire neighborhood, so d(x)=d(rep(x)); the r10
    # probe's 94x-shuffle full-pair walk is gone). Deep chains are how
    # LSH transitive closure drifts into linking unrelated docs — the
    # number a dedup release reviews before shipping cluster-level
    # survivors.
    from .operators.neardup import simhash_chain_hops

    def _build_bfs():
        return simhash_chain_hops(
            docs,
            comp.filter(F.col("doc_id") == F.col("component_id")).select(
                F.col("doc_id").alias("node")
            ),
            max_hamming=3,
            max_hops=_BFS_MAX_HOPS,
            sh_df=sh,
        )

    # pr (round 11): duplicate-mass centrality — PageRank power
    # iteration over the SAME persisted star-contracted edge set the
    # components loop consumes (operators.components.pagerank). The
    # oracle re-derives the contraction and folds each round with the
    # sorted-list convention, so every rank is bitwise-checked.
    from .operators.components import pagerank

    # The sections above are mutually independent given the persisted
    # comp/edges/sh frames: inc and bfs each run their own EAGER
    # fixpoint/frontier jobs, mined runs one count job, and hard/pr
    # spend their time in py4j plan construction (socket-bound, not
    # GIL-bound). Running them sequentially serializes ~10 s of
    # driver-synchronized latency at sf0.1; a thread per section lets
    # each section's jobs back-fill the others' idle slots (guide
    # §2.6). Tables (documents, embeddings) are memo-warmed above, so
    # the threads never touch session confs.
    from .operators.overlap import build_overlapped

    built = build_overlapped(
        {
            "inc": _build_inc,
            "mined": _build_mined,
            "hard": _build_hard,
            "bfs": _build_bfs,
            # local=True, not auto: the input is the star-contracted
            # dedup skeleton, bounded by construction (the regime-known
            # escape hatch — no estimate job, which would race the
            # other sections into materializing the shared edge
            # persist)
            "pr": lambda: pagerank(
                edges, docs, node_col="doc_id", iterations=_PR_ITERS,
                local=True,
            ),
        }
    )
    inc = built["inc"]
    mined = built["mined"]
    hard = built["hard"]
    bfs = built["bfs"]
    pr = built["pr"]

    return sized.select(
        F.lit("comp").alias("mode"),
        "doc_id", "component_id", "component_size", *null_l, null_cos,
    ).unionByName(
        leak.select(
            F.lit("leak").alias("mode"),
            F.lit(None).cast("bigint").alias("doc_id"),
            "component_id", "component_size", "n_splits", "splits_csv",
            null_cos,
        )
    ).unionByName(mine_child(True, "mine_pos")).unionByName(
        mine_child(False, "mine_neg")
    ).unionByName(hard).unionByName(
        inc.select(
            F.lit("inc").alias("mode"),
            "doc_id", "component_id", null_sz, *null_l, null_cos,
        )
    ).unionByName(
        bfs.select(
            F.lit("bfs").alias("mode"),
            F.col("node").alias("doc_id"),
            F.col("root").alias("component_id"),
            F.col("hop").cast("bigint").alias("component_size"),
            *null_l, null_cos,
        )
    ).unionByName(
        gcensus.select(
            F.lit("gsplit").alias("mode"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("bigint").alias("component_id"),
            F.col("n_docs").alias("component_size"),
            F.col("n_comp").cast("bigint").alias("n_splits"),
            F.col("split").alias("splits_csv"),
            null_cos,
        )
    ).unionByName(
        gleaks.select(
            F.lit("gsplit").alias("mode"),
            F.lit(None).cast("bigint").alias("doc_id"),
            F.lit(None).cast("bigint").alias("component_id"),
            F.col("n_leaks").alias("component_size"),
            F.lit(None).cast("bigint").alias("n_splits"),
            F.lit("__leaks__").alias("splits_csv"),
            null_cos,
        )
    ).unionByName(
        pr.select(
            F.lit("pr").alias("mode"),
            F.col("node").alias("doc_id"),
            F.lit(None).cast("bigint").alias("component_id"),
            null_sz, *null_l,
            F.col("r").alias("cosine"),
        )
    )


# --- q60: multimodal frame sampling (1 → N inside the Arrow batch) --------

_FRAME_STRIDE = 256

_FRAME_SUM = P.fold(
    P.transform_(
        f"regexp_extract_all(substr(text, frame_idx * {_FRAME_STRIDE} + 1,"
        f" {_FRAME_STRIDE}), '.')",
        "c", "CAST(ord(c) AS BIGINT)", D,
    ),
    "CAST(0 AS BIGINT)", "acc", "x", "acc + x", D,
)


@query(
    "q60_multimodal_frames",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(strlen(text) / {_FRAME_STRIDE}.0)
                                  AS BIGINT))) AS frame_idx
      FROM documents
    )
    SELECT doc_id, frame_idx,
           frame_idx * {_FRAME_STRIDE} AS frame_offset_bytes,
           CAST({_FRAME_SUM} AS BIGINT) AS frame_checksum
    FROM f
    """,
)
def q60_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style 1→N frame sampling through mapInPandas: each binary
    payload emits one row per 256-byte frame, expanded INSIDE the Arrow
    batch (frames never exist as a row-level array to explode). The
    checksum proves each frame's bytes were read; the oracle recomputes
    it from the text (ASCII ⇒ codepoints == bytes, as in q52)."""
    from .operators import multimodal as MM

    docs = load_table(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_payload(docs))


# --- q59: edit-distance fuzzy dedup on LSH candidates + part ER -----------

# Blocks bigger than this are boilerplate-token noise: dropped from
# candidate generation in BOTH engines (entity.py's max_block).
_ER_MAX_BLOCK = 256

@query(
    "q59_dedup_edit_distance",
    branches=("edit", "er", "er2", "gold"),
    oracle=f"""
    WITH RECURSIVE {QL._sig_ctes(D)},
    bands AS ({QL._bands_cte(D)}),
    cand0 AS ({QL._CAND_SQL}),
    pairsig AS (
      SELECT c.doc_a, c.doc_b, sa.sig AS sig_a, sb.sig AS sig_b
      FROM cand0 c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    cand AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               {P.round_dbl(P.sig_agreement('sig_a', 'sig_b', QL.NUM_HASHES, D), 6, D)} AS est
        FROM pairsig
      ) WHERE est >= 0.25
    ),
    -- entity resolution (the 'er' branch): rarest-token blocking +
    -- weighted multi-attribute linkage over part, re-derived stage by
    -- stage (df table, rarest pick with (df, tok) ties, max_block
    -- cap, within-block weighted score)
    ptoks AS (
      -- blank-token filter mirrors entity._toks (split('',' ') yields
      -- [''] in both engines)
      SELECT p_partkey,
             {P.filter_(P.distinct_(P.split_ws('p_name', D), D),
                        't', "t <> ''", D)} AS toks,
             p_brand, p_type
      FROM part
    ),
    pex AS (
      SELECT p_partkey, unnest(toks) AS tok FROM ptoks
    ),
    pdf AS (
      SELECT tok, count(*) AS df FROM pex GROUP BY tok
    ),
    pranked AS (
      SELECT e.p_partkey, e.tok,
             row_number() OVER (
               PARTITION BY e.p_partkey ORDER BY d.df, e.tok
             ) AS rn
      FROM pex e JOIN pdf d ON d.tok = e.tok
    ),
    pblock AS (
      SELECT p_partkey, tok AS block FROM pranked WHERE rn = 1
    ),
    pbsz AS (
      SELECT block, count(*) AS bn FROM pblock GROUP BY block
    ),
    pb AS (
      SELECT p.p_partkey, p.block FROM pblock p
      JOIN pbsz s ON s.block = p.block WHERE s.bn <= {_ER_MAX_BLOCK}
    ),
    -- er2: multi-key blocking (top-2 rarest tokens per record), the
    -- recall extension — the same per-record (df, tok) rank kept to
    -- rn <= 2, per-key df cap, and a DISTINCT over candidate id pairs
    -- because two records can now meet through several blocks
    pblock2 AS (
      SELECT p_partkey, tok AS block FROM pranked WHERE rn <= 2
    ),
    pbsz2 AS (
      SELECT block, count(*) AS bn FROM pblock2 GROUP BY block
    ),
    pb2 AS (
      SELECT p.p_partkey, p.block FROM pblock2 p
      JOIN pbsz2 s ON s.block = p.block WHERE s.bn <= {_ER_MAX_BLOCK}
    ),
    ercand2 AS (
      SELECT DISTINCT a.p_partkey AS id_a, b.p_partkey AS id_b
      FROM pb2 a JOIN pb2 b
        ON a.block = b.block AND a.p_partkey < b.p_partkey
    ),
    erpairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             CAST('0.5' AS DOUBLE)
               * (CAST({P.size_(P.intersect_('ta.toks', 'tb.toks', D), D)}
                    AS DOUBLE)
                  / CAST({P.union_size('ta.toks', 'tb.toks', D)} AS DOUBLE))
             + CAST('0.3' AS DOUBLE)
               * (CASE WHEN ta.p_brand = tb.p_brand
                       THEN CAST('1.0' AS DOUBLE)
                       ELSE CAST('0.0' AS DOUBLE) END)
             + CAST('0.2' AS DOUBLE)
               * (CASE WHEN ta.p_type = tb.p_type
                       THEN CAST('1.0' AS DOUBLE)
                       ELSE CAST('0.0' AS DOUBLE) END) AS score
      FROM pb a JOIN pb b
        ON a.block = b.block AND a.p_partkey < b.p_partkey
      JOIN ptoks ta ON ta.p_partkey = a.p_partkey
      JOIN ptoks tb ON tb.p_partkey = b.p_partkey
    ),
    erpairs2 AS (
      SELECT c.id_a, c.id_b,
             CAST('0.5' AS DOUBLE)
               * (CAST({P.size_(P.intersect_('ta.toks', 'tb.toks', D), D)}
                    AS DOUBLE)
                  / CAST({P.union_size('ta.toks', 'tb.toks', D)} AS DOUBLE))
             + CAST('0.3' AS DOUBLE)
               * (CASE WHEN ta.p_brand = tb.p_brand
                       THEN CAST('1.0' AS DOUBLE)
                       ELSE CAST('0.0' AS DOUBLE) END)
             + CAST('0.2' AS DOUBLE)
               * (CASE WHEN ta.p_type = tb.p_type
                       THEN CAST('1.0' AS DOUBLE)
                       ELSE CAST('0.0' AS DOUBLE) END) AS score
      FROM ercand2 c
      JOIN ptoks ta ON ta.p_partkey = c.id_a
      JOIN ptoks tb ON tb.p_partkey = c.id_b
    ),
    -- gold branch: survivorship over the er2 matches — transitive
    -- closure into entity clusters (min-id golden), majority-vote
    -- brand fusion with (count DESC, value ASC) ties, and the exact
    -- majority share per member row
    gm AS MATERIALIZED (
      SELECT id_a, id_b FROM erpairs2
      WHERE round(CAST(score AS DOUBLE), 6) >= 0.7
    ),
    gund AS (
      SELECT id_a AS src, id_b AS dst FROM gm
      UNION ALL
      SELECT id_b, id_a FROM gm
    ),
    gnodes AS (SELECT DISTINCT src AS id FROM gund),
    gwalk(node, lab) AS (
      SELECT id, id FROM gnodes
      UNION
      SELECT u.dst, c.lab FROM gwalk c JOIN gund u ON u.src = c.node
    ),
    glab AS MATERIALIZED (
      SELECT node AS id, min(lab) AS cid FROM gwalk GROUP BY node
    ),
    gsz AS (SELECT cid, count(*) AS n FROM glab GROUP BY cid),
    gvote AS (
      SELECT g.cid, p.p_brand AS attr, count(*) AS c
      FROM glab g JOIN part p ON p.p_partkey = g.id
      GROUP BY g.cid, p.p_brand
    ),
    gtop AS (
      SELECT cid, attr, c FROM (
        SELECT cid, attr, c,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY c DESC, attr) AS rn
        FROM gvote
      ) WHERE rn = 1
    )
    SELECT 'edit' AS mode, id_a, id_b, score FROM (
      SELECT c.doc_a AS id_a, c.doc_b AS id_b,
             round(CAST(levenshtein(a.text, b.text) AS DOUBLE)
                   / greatest(length(a.text), length(b.text)), 6) AS score
      FROM cand c
      JOIN documents a ON a.doc_id = c.doc_a
      JOIN documents b ON b.doc_id = c.doc_b
    ) WHERE score <= 0.2
    UNION ALL
    SELECT 'er' AS mode, id_a, id_b, round(CAST(score AS DOUBLE), 6)
    FROM erpairs WHERE round(CAST(score AS DOUBLE), 6) >= 0.7
    UNION ALL
    SELECT 'er2' AS mode, id_a, id_b, round(CAST(score AS DOUBLE), 6)
    FROM erpairs2 WHERE round(CAST(score AS DOUBLE), 6) >= 0.7
    UNION ALL
    SELECT 'gold', g.id, g.cid,
           CAST(t.c AS DOUBLE) / CAST(s.n AS DOUBLE)
    FROM glab g
    JOIN gsz s ON s.cid = g.cid
    JOIN gtop t ON t.cid = g.cid
    """,
)
@build_memo
def q59_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy identity, both grains in one driver row. ``edit``:
    normalized Levenshtein ≤ 0.2 on MinHash-LSH candidates — the
    character-level fuzzy-dedup modality (catches small in-place edits
    that shingle sets blur), O(len²) verifier safely gated behind the
    candidate prune. ``er`` (round 10): RECORD linkage on the ``part``
    dimension (operators/entity.py) — rarest-token blocking (blocks
    over {_ER_MAX_BLOCK} records dropped as boilerplate), then the
    weighted multi-attribute score 0.5·jaccard(name tokens) +
    0.3·[brand equal] + 0.2·[type equal] ≥ 0.7 within blocks; the
    dedup machinery generalizing beyond documents to relational
    entities. ``er2`` (round 11): the MULTI-KEY blocking recall
    extension driver-checked — each record emits its top-2 rarest
    tokens (the same (df, tok) rank kept to 2), candidate id pairs
    DISTINCT before scoring (a pair can now meet through several
    blocks); cross-name matches that disagree on the single rarest
    token still meet (the recall case tests/test_entity.py pins).

    Memoized per (session, corpus): the gold branch's component loop
    runs EAGERLY at build time, so re-building per branch-timing
    filter would re-pay it."""
    from .operators.entity import blocked_er_matches, ranked_name_tokens
    from .operators.neardup import edit_distance_pairs

    edit = edit_distance_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=QL.NUM_HASHES, bands=QL.BANDS, shingle_n=QL.SHINGLE_N,
        candidate_threshold=0.25, max_ratio=0.2,
    ).select(
        F.lit("edit").alias("mode"),
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.col("edit_ratio").alias("score"),
    )
    part = load_table(spark, sf_dir, "part")

    # ONE tokenize+df pass feeds both blocking variants (er rank-1,
    # er2 rank-2) — each call re-ran it before; max_block pruning
    # stays inside each variant because block sizes depend on
    # num_keys.
    ranked = persist_tracked(
        ranked_name_tokens(part, "p_partkey", "p_name")
    )

    def _er_matches(num_keys: int) -> DataFrame:
        return blocked_er_matches(
            part,
            id_col="p_partkey",
            name_col="p_name",
            exact_cols={"p_brand": 0.3, "p_type": 0.2},
            name_weight=0.5,
            threshold=0.7,
            max_block=_ER_MAX_BLOCK,
            num_keys=num_keys,
            ranked_df=ranked,
        )

    def _tag(m: DataFrame, tag: str) -> DataFrame:
        return m.select(F.lit(tag).alias("mode"), "id_a", "id_b", "score")

    # Persisted: m2 fans out into the er2 branch AND six references
    # inside the gold branch's survivorship plan (edges both
    # directions for the component closure's checkpoint, the node
    # set, the vote join) — unpersisted, the blocked scoring tree
    # re-executed per reference (measured: the gold branch's noop
    # shuffled 960k records, 6x the er2 branch's 160k; persisted it
    # pays the 160k once).
    m2 = persist_tracked(_er_matches(2))
    # gold branch (round 11): survivorship — the er2 match pairs
    # closed into entity clusters, a golden id elected per cluster
    # (min member), and p_brand fused by majority vote
    # (operators.entity.er_survivorship). Rows shoehorn as
    # id_a=member, id_b=golden, score=the exact majority share; the
    # elected VALUE itself is unit-pinned (the 4-column slot contract
    # cannot carry a string).
    from .operators.entity import er_survivorship

    gold = er_survivorship(
        m2, part, id_col="p_partkey", attr_col="p_brand"
    ).select(
        F.lit("gold").alias("mode"),
        F.col("member").alias("id_a"),
        F.col("golden").alias("id_b"),
        F.col("attr_share").alias("score"),
    )

    return (
        edit.unionByName(_tag(_er_matches(1), "er"))
        .unionByName(_tag(m2, "er2"))
        .unionByName(gold)
    )


# --- q58: sign-random-projection bucket histogram -------------------------

_SRP_PLANES = KNN.hyperplanes(num_planes=8)


KMV_K = 64
CMS_DEPTH = 4
CMS_WIDTH = 256
CMS_PROBES = 3
HLL_Q58_P = 8  # 256 registers, RSE ≈ 6.5% — over the 3-shingle domain
HLL_GRP_P = 6  # 64 registers per group — distinct users per event_type
KMV_OPS_K = 256  # set-op sketch size — vocab overlap of two sources
# hist branch (round 10): equi-width histogram over events.value —
# lo/hi/width are DYADIC literals (width 8.0) so the bucket division
# is exact IEEE in both engines; values ≥ hi clamp to the last bucket
HIST_LO, HIST_HI, HIST_N = 0.0, 512.0, 64
HIST_W = (HIST_HI - HIST_LO) / HIST_N
QDIG_QS = (0.25, 0.5, 0.9, 0.99)


def _qdig_exact_arms() -> str:
    """Exact-quantile twin arms over the leaf cumulative counts —
    smallest integer leaf value whose cumulative count reaches
    ceil(q·n), one parenthesized LIMIT-1 arm per q."""
    arms = []
    for q in QDIG_QS:
        arms.append(
            f"(SELECT CAST('{q!r}' AS DOUBLE) AS q, idx AS exact_v"
            f" FROM qdcum WHERE cum >= greatest(CAST(ceil("
            f"CAST('{q!r}' AS DOUBLE) * (SELECT n FROM qdn)) AS BIGINT),"
            f" 1) ORDER BY idx LIMIT 1)"
        )
    return "\nUNION ALL\n".join(arms)


def _q58_sql() -> str:
    from .operators.sketches import (
        AMS_DEPTH,
        ams_f2_sql,
        hll_estimate_sql,
        hll_grouped_sql,
        hll_registers_sql,
        kmv_distinct_sql,
        kmv_set_ops_sql,
        qdigest_ctes,
        qdigest_quantiles_sql,
    )

    toks = f"SELECT unnest({P.split_ws('text', D)}) AS v FROM documents"
    sh = f"SELECT unnest({P.shingles('text', 3, D)}) AS v FROM documents"
    kmv = kmv_distinct_sql(toks, KMV_K)
    hregs = hll_registers_sql(sh, HLL_Q58_P)
    hest = hll_estimate_sql("SELECT * FROM hllregs", HLL_Q58_P)
    src_a = "(SELECT min(source) FROM documents)"
    src_b = (
        "(SELECT min(source) FROM documents"
        f" WHERE source > {src_a})"
    )
    sh_a = (
        f"SELECT unnest({P.shingles('text', 3, D)}) AS v"
        f" FROM documents WHERE source = {src_a}"
    )
    sh_b = (
        f"SELECT unnest({P.shingles('text', 3, D)}) AS v"
        f" FROM documents WHERE source = {src_b}"
    )
    kops = kmv_set_ops_sql(sh_a, sh_b, KMV_OPS_K)
    gvals = (
        "SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS v"
        " FROM events"
    )
    gregs, gest = hll_grouped_sql(gvals, HLL_GRP_P)
    bkt = P.token_hash32("CONCAT(CAST(j.j AS VARCHAR), ':', t.v)", D)
    return f"""
    WITH b AS (
      SELECT vec_id,
             {P.hyperplane_bucket('embedding', _SRP_PLANES, D)} AS srp_bucket
      FROM embeddings
    ),
    kmv AS ({kmv}),
    kops AS ({kops}),
    kopsexact AS (
      SELECT (SELECT count(DISTINCT v)
              FROM (({sh_a}) UNION ALL ({sh_b}))) AS ex_union,
             (SELECT count(*) FROM (
                SELECT DISTINCT v FROM ({sh_a})
                INTERSECT
                SELECT DISTINCT v FROM ({sh_b}))) AS ex_inter
    ),
    hllregs AS ({hregs}),
    hllest AS ({hest}),
    hllgrpregs AS ({gregs}),
    hllgrpest AS ({gest}),
    grpexact AS (
      SELECT event_type AS grp,
             count(DISTINCT CAST(user_id AS VARCHAR)) AS ex
      FROM events GROUP BY 1
    ),
    shexact AS (
      SELECT count(DISTINCT v) AS sh_exact FROM ({sh})
    ),
    exact AS (
      SELECT count(DISTINCT v) AS exact_distinct FROM ({toks})
    ),
    counters AS (
      SELECT j.j AS d, ({bkt}) % {CMS_WIDTH} AS bucket, count(*) AS cnt
      FROM ({toks}) t
      CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT v FROM (SELECT DISTINCT v FROM ({toks}))
      ORDER BY md5(v), v LIMIT {CMS_PROBES}
    ),
    pcoord AS (
      SELECT t.v, j.j AS d, ({bkt}) % {CMS_WIDTH} AS bucket
      FROM probes t
      CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS j) j
    ),
    cms AS (
      SELECT p.v AS probe,
             min(COALESCE(c.cnt, 0)) AS cms_est
      FROM pcoord p LEFT JOIN counters c
        ON c.d = p.d AND c.bucket = p.bucket
      GROUP BY p.v
    ),
    pexact AS (
      SELECT t.v AS probe, count(*) AS exact_cnt
      FROM ({toks}) t JOIN probes pr ON pr.v = t.v GROUP BY t.v
    ),
    -- hist branch: the mergeable equi-width histogram re-derived as a
    -- direct bucket count — same clamped-tail bucket expression as
    -- histogram_sketch (floor of an exact dyadic-width division), so
    -- the merged two-half Spark build must match the one-shot count
    hist AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(
               (CAST(value AS DOUBLE) - CAST('{HIST_LO!r}' AS DOUBLE))
               / CAST('{HIST_W!r}' AS DOUBLE)) AS INTEGER), 0),
             {HIST_N - 1}) AS bucket,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    -- hist_grp branch: one histogram PER event_type in one pass
    -- (histogram_sketch_grouped) — identical bucket expression with
    -- the group key prepended
    histgrp AS (
      SELECT event_type AS grp,
             LEAST(GREATEST(CAST(FLOOR(
               (CAST(value AS DOUBLE) - CAST('{HIST_LO!r}' AS DOUBLE))
               / CAST('{HIST_W!r}' AS DOUBLE)) AS INTEGER), 0),
             {HIST_N - 1}) AS bucket,
             count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    -- qdig/qdig_q branches: the q-digest re-derived level by level
    -- (sketches.qdigest_ctes — unrolled percolation, the
    -- kmeans_exact_cent_ctes discipline) plus the exact quantile twin
    -- from the leaf cumulative counts
    {qdigest_ctes("SELECT value AS v FROM events WHERE value IS NOT NULL")},
    qdq AS ({qdigest_quantiles_sql(list(QDIG_QS))}),
    qdleafc AS (
      SELECT idx, count(*) AS cnt FROM qdleaf GROUP BY idx
    ),
    qdcum AS (
      SELECT idx,
             SUM(cnt) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum
      FROM qdleafc
    ),
    qdexact AS ({_qdig_exact_arms()}),
    -- ams branch: AMS tug-of-war F2 counters over the token stream
    -- (sketches.ams_f2_sql — same '{{d}}:ams:'||v hash parity sign),
    -- the exact F2 beside the per-depth estimates and the median
    amsc AS ({ams_f2_sql(toks, AMS_DEPTH)}),
    amsx AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS exact_f2
      FROM (SELECT count(*) AS c FROM ({toks}) GROUP BY v)
    ),
    amsm AS (
      SELECT CAST(median(counter * counter) AS DOUBLE) AS est_med
      FROM amsc
    )
    SELECT 'srp' AS mode, srp_bucket,
           count(*) AS n_vectors, min(vec_id) AS min_vec_id,
           CAST(NULL AS INTEGER) AS k_used,
           CAST(NULL AS BIGINT) AS kth_hash,
           CAST(NULL AS DOUBLE) AS est_distinct,
           CAST(NULL AS BIGINT) AS exact_distinct,
           CAST(NULL AS VARCHAR) AS probe,
           CAST(NULL AS BIGINT) AS cms_est,
           CAST(NULL AS BIGINT) AS exact_cnt,
           CAST(NULL AS INTEGER) AS hll_register,
           CAST(NULL AS INTEGER) AS hll_rho,
           CAST(NULL AS INTEGER) AS n_zero_regs,
           CAST(NULL AS BIGINT) AS n_both,
           CAST(NULL AS DOUBLE) AS jaccard_est,
           CAST(NULL AS DOUBLE) AS est_intersect,
           CAST(NULL AS BIGINT) AS exact_intersect
    FROM b GROUP BY srp_bucket
    UNION ALL
    SELECT 'kmv', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), k_used, kth_hash, est_distinct,
           exact_distinct, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM kmv CROSS JOIN exact
    UNION ALL
    SELECT 'kmvops', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), k.k_used, k.kth_hash, k.est_union,
           x.ex_union, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           k.n_both, k.jaccard_est, k.est_intersection, x.ex_inter
    FROM kops k CROSS JOIN kopsexact x
    UNION ALL
    SELECT 'cms', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), c.probe, c.cms_est,
           COALESCE(e.exact_cnt, 0), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM cms c LEFT JOIN pexact e ON e.probe = c.probe
    UNION ALL
    SELECT 'hll', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           register, rho, CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM hllregs
    UNION ALL
    SELECT 'hll_est', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), est_distinct, sh_exact,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), n_zero_regs,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM hllest CROSS JOIN shexact
    UNION ALL
    SELECT 'hll_grp', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), grp, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), register, rho,
           CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM hllgrpregs
    UNION ALL
    SELECT 'hll_grp_est', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), e.est_distinct, x.ex,
           e.grp, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           e.n_zero_regs,
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM hllgrpest e JOIN grpexact x ON x.grp = e.grp
    UNION ALL
    SELECT 'hist', bucket, cnt,
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT)
    FROM hist
    UNION ALL
    SELECT 'hist_grp', bucket, cnt,
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT), grp,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT)
    FROM histgrp
    UNION ALL
    SELECT 'qdig', CAST(level AS INTEGER), cnt, lo,
           CAST(NULL AS INTEGER), hi,
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM qddig
    UNION ALL
    SELECT 'qdig_q', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(q2.est AS DOUBLE), x.exact_v,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), q2.q,
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM qdq q2 JOIN qdexact x ON x.q = q2.q
    UNION ALL
    SELECT 'ams', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(a.d AS INTEGER), a.counter,
           CAST(NULL AS DOUBLE), x.exact_f2, CAST(NULL AS VARCHAR),
           a.counter * a.counter, CAST(NULL AS BIGINT),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS BIGINT)
    FROM amsc a CROSS JOIN amsx x
    UNION ALL
    SELECT 'ams', CAST(NULL AS INTEGER), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), m.est_med, x.exact_f2,
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
           CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
    FROM amsm m CROSS JOIN amsx x
    """


@query(
    "q58_srp_histogram",
    branches=(
        "srp", "kmv", "kmvops", "cms", "hll", "hll_est", "hll_grp",
        "hll_grp_est", "hist", "hist_grp", "qdig", "qdig_q", "ams",
    ),
    oracle=_q58_sql(),
)
@build_memo
def q58_srp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch diagnostics in one driver row (round-5 tag merge).
    ``srp``: 8-plane sign-random-projection signatures + bucket
    occupancy — the load-balance check run before committing to an LSH
    layout; map-side signature + one small hash agg. ``kmv``:
    k-minimum-values distinct-count sketch over the documents token
    vocabulary (operators.sketches) next to the exact distinct count —
    the cross-engine-EXACT alternative to native HLL: same
    token_hash32 BIGINTs, same ``(k−1)·2³²/h_k`` estimator bits in
    both engines, and the local dense_rank prune keeps the exchange
    candidate-set sized instead of corpus sized. ``hll``/``hll_est``
    (round 9): a from-scratch HyperLogLog (operators.sketches) over
    the 3-shingle domain — every register integer AND the raw
    estimate are hash-checked against DuckDB running the same
    generated expressions (the Σ2^(−M) fold cannot round, so it is
    order-independent; see the module docstring). The exchange
    carries ≤ partitions·256 register rows: constant in corpus size,
    the distinct-count you'd actually run at 100 TB.
    ``hll_grp``/``hll_grp_est`` (round 9): the grouped form — distinct
    users per event_type in ONE pass, registers and per-group raw
    estimates both value-checked (the per-group domains sit in HLL's
    small-range regime on this testdata, which is the honest case for
    shipping ``n_zero_regs`` + the exact count beside the raw
    estimate; ``hll_corrected_estimate`` is the driver-side fix).
    ``kmvops`` (round 9): KMV set operations — union / Jaccard /
    intersection cardinalities of two sources' shingle vocabularies
    from two candidate-sized sketches (operators.sketches
    .kmv_set_ops, the theta-sketch shape), never a corpus-sized join;
    exact union/intersection counts ship beside the estimates.
    ``hist`` (round 10): the mergeable equi-width histogram — built
    over two disjoint halves and counter-sum MERGED, so the row
    value-checks build and merge against the oracle's one-shot count.
    ``hist_grp`` (round 10): the per-group single-pass form
    (histogram_sketch_grouped) — one histogram per event_type, the
    feed for curation.prune_thresholds' per-cluster cutoffs.

    Memoized per (session, corpus): ten branches share the SAME
    persisted token and shingle frames, so neither the union run nor
    the per-branch bench timings re-tokenize the corpus per branch."""
    from .operators.sketches import (
        hll_estimate,
        hll_estimate_grouped,
        hll_registers,
        hll_registers_grouped,
        kmv_distinct,
        kmv_set_ops,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    bucket = P.hyperplane_bucket("embedding", _SRP_PLANES, P.SPARK)
    srp = (
        emb.select("vec_id", F.expr(bucket).alias("srp_bucket"))
        .groupBy("srp_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )
    from .operators.sketches import count_min_estimates

    from .operators.neardup import _rebalance

    docs_src = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass and ONE shingle pass feed every text-sketch
    # branch (kmv + cms probes/counts off toks; hll/hll_est/kmvops off
    # sh2) — without the persists each union child re-scans and
    # re-explodes the corpus, and the per-branch bench timings pay the
    # tokenize ten times (the r10 accretion finding). _rebalance
    # first: the testdata corpus is one parquet row-group, so the
    # materialization would otherwise run in ONE task (the q48/q55
    # single-row-group lesson).
    docs_spread = _rebalance(docs_src, "doc_id")
    toks = persist_tracked(
        docs_spread.select(
            F.explode(F.expr(P.split_ws("text", P.SPARK))).alias("v")
        )
    )
    sh2 = persist_tracked(
        docs_spread.select(
            "source",
            F.explode(F.expr(P.shingles("text", 3, P.SPARK))).alias("v"),
        )
    )
    # ONE distinct-token exchange feeds the KMV sketch, its exact
    # companion, and the CMS probe pick (before: the probe distinct
    # and the count_distinct each re-deduped the token stream).
    # KMV is a function of the distinct hash set (_kmv_top_hashes
    # dedupes), so the pre-distinct input is value-identical; the
    # exact count is count(1) over the persisted distinct frame minus
    # NULLs (count_distinct semantics) — a 32-row partial-count
    # exchange instead of a vocabulary-grain one (guide §2.4).
    dtoks = persist_tracked(toks.select("v").distinct())
    kmv = kmv_distinct(dtoks, "v", KMV_K).crossJoin(
        dtoks.filter(F.col("v").isNotNull()).agg(
            F.count(F.lit(1)).alias("exact_distinct")
        )
    )
    probes = dtoks.orderBy(F.md5("v"), "v").limit(CMS_PROBES)
    cms = count_min_estimates(
        toks, "v", probes, depth=CMS_DEPTH, width=CMS_WIDTH
    )
    sh = sh2.select("v")
    hregs = hll_registers(sh, "v", HLL_Q58_P).select(
        F.col("register").alias("hll_register"),
        F.col("rho").alias("hll_rho"),
    )
    two_srcs = sorted(
        r[0]
        for r in docs_src.select("source").distinct().collect()
        if r[0] is not None
    )[:2]
    if len(two_srcs) < 2:
        raise ValueError("q58 kmvops needs >= 2 distinct sources")

    # ONE shingle-grain exchange (groupBy v with per-source membership
    # flags) replaces the four the exact companions paid before: the
    # hll exact count_distinct, the kmvops union count_distinct, and
    # the two distincts feeding intersect (guide §2.4). Every
    # companion is a filter+count(1) over the persisted membership
    # frame, each a 32-row partial-count exchange; count_distinct's
    # NULL exclusion is replayed explicitly (v IS NOT NULL) while the
    # intersect companion keeps set semantics (NULL matches NULL), so
    # every branch value is unchanged. KMV's source frames are the
    # membership filters — per-source DISTINCT shingles, value-
    # identical because _kmv_top_hashes dedupes.
    mem = persist_tracked(
        sh2.groupBy("v").agg(
            F.max(F.col("source") == two_srcs[0]).alias("__in_a"),
            F.max(F.col("source") == two_srcs[1]).alias("__in_b"),
        )
    )
    hest = hll_estimate(
        hregs.select(
            F.col("hll_register").alias("register"),
            F.col("hll_rho").alias("rho"),
        ),
        HLL_Q58_P,
    ).crossJoin(
        mem.filter(F.col("v").isNotNull()).agg(
            F.count(F.lit(1)).alias("exact_distinct")
        )
    )
    sh_a = mem.filter("__in_a").select("v")
    sh_b = mem.filter("__in_b").select("v")
    kops = (
        kmv_set_ops(sh_a, sh_b, "v", KMV_OPS_K)
        .crossJoin(
            mem.filter(
                (F.col("__in_a") | F.col("__in_b"))
                & F.col("v").isNotNull()
            ).agg(F.count(F.lit(1)).alias("exact_distinct"))
        )
        .crossJoin(
            mem.filter(F.col("__in_a") & F.col("__in_b"))
            .agg(F.count(F.lit(1)).alias("exact_intersect"))
        )
        .select(
            "k_used",
            "kth_hash",
            F.col("est_union").alias("est_distinct"),
            "exact_distinct",
            "n_both",
            "jaccard_est",
            F.col("est_intersection").alias("est_intersect"),
            "exact_intersect",
        )
    )
    ev = load_table(spark, sf_dir, "events")
    gvals = ev.select(
        F.col("event_type").alias("grp"),
        F.col("user_id").cast("string").alias("v"),
    )
    gregs = hll_registers_grouped(gvals, "v", "grp", HLL_GRP_P)
    grp_regs = gregs.select(
        F.col("grp").alias("probe"),
        F.col("register").alias("hll_register"),
        F.col("rho").alias("hll_rho"),
    )
    grp_est = (
        hll_estimate_grouped(gregs, HLL_GRP_P)
        .join(
            gvals.groupBy("grp").agg(
                F.count_distinct("v").alias("exact_distinct")
            ),
            "grp",
        )
        .select(
            F.col("grp").alias("probe"),
            "est_distinct",
            "exact_distinct",
            "n_zero_regs",
        )
    )
    # hist branch (round 10): the MERGEABLE histogram driver-checked —
    # build over two disjoint halves (user_id parity), counter-sum
    # merge, so the driver row value-checks build AND merge against
    # the oracle's one-shot bucket count (merge==build is the
    # mergeability contract; the halves union covers every row since
    # events.user_id is never NULL on this testdata — and if a
    # regeneration ever added NULLs the count mismatch would SHOW)
    from .operators.sketches import (
        histogram_merge,
        histogram_sketch,
        histogram_sketch_grouped,
    )

    hist = histogram_merge(
        histogram_sketch(
            ev.filter(F.col("user_id") % 2 == 0), "value",
            HIST_LO, HIST_HI, HIST_N,
        ),
        histogram_sketch(
            ev.filter(F.col("user_id") % 2 != 0), "value",
            HIST_LO, HIST_HI, HIST_N,
        ),
    ).select(
        F.col("bucket").alias("srp_bucket"),
        F.col("cnt").alias("n_vectors"),
    )
    # hist_grp branch (round 10): the per-group single-pass form —
    # one histogram per event_type, exchange ≤ |groups|·n_buckets rows
    ghist = histogram_sketch_grouped(
        ev, ["event_type"], "value", HIST_LO, HIST_HI, HIST_N
    ).select(
        F.col("event_type").alias("probe"),
        F.col("bucket").alias("srp_bucket"),
        F.col("cnt").alias("n_vectors"),
    )
    # qdig/qdig_q branches (round 11): the q-digest mergeable quantile
    # sketch over events.value — every digest node AND every quantile
    # answer cross-engine exact (operators.sketches module comment);
    # the exact quantile ships beside each estimate (the HLL/KMV
    # honesty convention). Unlike the equi-width histogram it needs no
    # (lo, hi) priors — the domain is the integer tree.
    from pyspark.sql import Window as _W

    from .operators.sketches import (
        QDIG_K,
        QDIG_LEVELS,
        qdigest_build,
        qdigest_quantiles,
    )

    qd_src = ev.filter(F.col("value").isNotNull()).select("value")
    qdig_nodes, qd_n = qdigest_build(qd_src, "value", QDIG_K)
    qd = qdig_nodes.select(
        F.col("level").cast("int").alias("srp_bucket"),
        F.col("cnt").alias("n_vectors"),
        F.col("lo").alias("min_vec_id"),
        F.col("hi").alias("kth_hash"),
    )
    qd_u = 1 << QDIG_LEVELS
    leafc = (
        qd_src.select(
            F.expr(
                f"CAST(least(greatest(floor(value), 0), {qd_u - 1})"
                " AS BIGINT)"
            ).alias("idx")
        )
        .groupBy("idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                _W.orderBy("idx").rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
    )
    qd_exact = None
    for _q in QDIG_QS:
        _rank = (
            f"CAST(ceil(CAST('{_q!r}' AS DOUBLE) * {qd_n}) AS BIGINT)"
        )
        _row = (
            leafc.filter(F.expr(f"cum >= greatest({_rank}, 1)"))
            .orderBy("idx")
            .limit(1)
            .select(
                F.expr(f"CAST('{_q!r}' AS DOUBLE)").alias("q"),
                F.col("idx").alias("exact_v"),
            )
        )
        qd_exact = _row if qd_exact is None else qd_exact.unionByName(_row)
    qdq = (
        qdigest_quantiles(qdig_nodes, qd_n, list(QDIG_QS))
        .join(qd_exact, "q")
        .select(
            F.col("q").alias("jaccard_est"),
            F.col("est").cast("double").alias("est_distinct"),
            F.col("exact_v").alias("exact_distinct"),
        )
    )

    # ams branch (round 11): AMS tug-of-war F2 counters over the SAME
    # persisted token frame — per-depth exact-integer counters +
    # squared estimates, the median-of-estimates, and the exact
    # F2 = Σf² beside them (sketches module honesty convention). The
    # 7-row counter frame is persisted because the rows arm and the
    # median arm both consume it.
    from .operators.sketches import (
        AMS_DEPTH,
        ams_f2_counters,
        ams_f2_estimate,
        ams_f2_exact,
    )

    amsc = persist_tracked(ams_f2_counters(toks, "v", AMS_DEPTH))
    amsx = persist_tracked(ams_f2_exact(toks, "v"))
    ams_rows = amsc.crossJoin(amsx).select(
        F.col("d").cast("int").alias("k_used"),
        F.col("counter").alias("kth_hash"),
        (F.col("counter") * F.col("counter")).alias("cms_est"),
        F.col("exact_f2").alias("exact_distinct"),
    )
    ams_med = ams_f2_estimate(amsc).crossJoin(amsx).select(
        F.col("est_f2").alias("est_distinct"),
        F.col("exact_f2").alias("exact_distinct"),
    )

    null = {
        "k_used": "int", "kth_hash": "long", "est_distinct": "double",
        "exact_distinct": "long", "probe": "string", "cms_est": "long",
        "exact_cnt": "long", "hll_register": "int", "hll_rho": "int",
        "n_zero_regs": "int", "n_both": "long", "jaccard_est": "double",
        "est_intersect": "double", "exact_intersect": "long",
    }

    def pad(df: DataFrame, mode: str, keep: list[str]) -> DataFrame:
        base = {"srp_bucket": "int", "n_vectors": "long",
                "min_vec_id": "long", **null}
        # ONE selectExpr call per pad: the per-column F.lit/.cast/
        # .alias chain cost ~18 py4j round trips × 14 pads (~1.8 s of
        # this build's warm plan construction, measured); SQL strings
        # assemble in Python for free and cross the gateway once
        cols = [f"'{mode}' AS mode"] + [
            f"`{c}`" if c in keep else f"CAST(NULL AS {t}) AS `{c}`"
            for c, t in base.items()
        ]
        return df.selectExpr(*cols)

    return (
        pad(srp, "srp", ["srp_bucket", "n_vectors", "min_vec_id"])
        .unionByName(pad(kmv, "kmv", ["k_used", "kth_hash",
                                      "est_distinct", "exact_distinct"]))
        .unionByName(pad(kops, "kmvops",
                         ["k_used", "kth_hash", "est_distinct",
                          "exact_distinct", "n_both", "jaccard_est",
                          "est_intersect", "exact_intersect"]))
        .unionByName(pad(cms, "cms", ["probe", "cms_est", "exact_cnt"]))
        .unionByName(pad(hregs, "hll", ["hll_register", "hll_rho"]))
        .unionByName(pad(hest, "hll_est", ["est_distinct",
                                           "exact_distinct",
                                           "n_zero_regs"]))
        .unionByName(pad(grp_regs, "hll_grp",
                         ["probe", "hll_register", "hll_rho"]))
        .unionByName(pad(grp_est, "hll_grp_est",
                         ["probe", "est_distinct", "exact_distinct",
                          "n_zero_regs"]))
        .unionByName(pad(hist, "hist", ["srp_bucket", "n_vectors"]))
        .unionByName(
            pad(ghist, "hist_grp", ["probe", "srp_bucket", "n_vectors"])
        )
        .unionByName(
            pad(qd, "qdig",
                ["srp_bucket", "n_vectors", "min_vec_id", "kth_hash"])
        )
        .unionByName(
            pad(qdq, "qdig_q",
                ["jaccard_est", "est_distinct", "exact_distinct"])
        )
        .unionByName(
            pad(ams_rows, "ams",
                ["k_used", "kth_hash", "cms_est", "exact_distinct"])
        )
        .unionByName(
            pad(ams_med, "ams", ["est_distinct", "exact_distinct"])
        )
    )
