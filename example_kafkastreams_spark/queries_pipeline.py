"""Pipeline-composition queries — q61-q63 (round 4).

The round-3 corpus-construction surface (domain mixing, PII scrubbing,
the end-to-end pretrain funnel) rode on pytest only because the
driver's 50-query window was full (VERDICT r3). Round 4 rotated slots
(q12+q13 and q23+q25 merged, q10 retired) so each of these gets a hard
driver-checked oracle row:

* q61 — deterministic domain mixing: the oracle re-derives the literal
  acceptance rates IN SQL (counts → normalized weights → binding-source
  cap → per-source rate) with the same IEEE double operation sequence
  mixture_rates runs in Python, so the survivor set matches bit-exact.
* q62 — PII scrubbing: dual-dialect regexp_replace chain + alternation
  count (functions.portable), same Java∩RE2 pattern subset both ways.
* q63 — the WHOLE funnel as one query: quality → lang-ID → exact dedup
  → near-dup components survivor → PII scrub → chunking, reported as a
  single funnel-count row. Each stage already has its own green row
  (q49/q48/q40/q43+q57/q62/q54); this row proves the COMPOSITION — the
  DuckDB twin chains the same dual-dialect expressions through a
  recursive-CTE transitive closure.

Reference parity note: the reference engine (example-kafkastreams,
~760 LoC Scala) has no corpus pipeline — this is the LLM-data
extension surface (SURVEY.md §2.9) built on the same operator library
its clickstream topologies use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_table
from .functions import portable as P
from .operators.cache import build_memo
from .operators.mixing import mix_sources
from .operators.neardup import _rebalance
from .pipelines import corpus_funnel_counts, corpus_stages
from .registry import davg_sql, query
from . import queries_llm as QL

D = P.DUCK

_M = 1 << 32

# --- q61: deterministic domain mixing -------------------------------------
# Weights over the first four sources IN LEXICOGRAPHIC ORDER (rank 1 ->
# 0.4, 2 -> 0.3, 3 -> 0.2, 4 -> 0.1): rank-based rather than by name so
# a testdata regeneration that renames sources (the generator has
# changed physical details between rounds before) degrades to a value
# difference the driver can SEE, never a hard NameError. The normalized
# weights are fixed Python doubles regardless of names, so the SQL twin
# splices them as exact literals.

_MIX_RANK_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
_MIX_TOTAL = sum(_MIX_RANK_WEIGHTS)
_MIX_NORM = [w / _MIX_TOTAL for w in _MIX_RANK_WEIGHTS]

# q61 `split` branch: the shipped 80/10/10 content-hash split
# (operators.sampling.assign_split's default, spliced identically into
# the oracle so the per-doc assignment is value-checked end to end)
_SPLIT_RATIOS = (("train", 0.8), ("val", 0.1), ("test", 0.1))

# q61 `budget` branch (round 10): an ABSOLUTE token budget — 97% of
# the corpus token mass, high enough that several small sources'
# n^0.5-boosted shares exceed what they have, so the water-fill
# fixpoint (operators.mixing.budget_quotas) actually iterates (2-3
# pin rounds on this testdata at every SF). α and the budget fraction
# are literals; masses are data-derived, and the oracle re-runs the
# SAME fixpoint as a recursive CTE over a single-row list state.
_BUDGET_FRAC = "0.97"
_BUDGET_ALPHA = 0.5
# dsir branch (round 11): hashed-unigram feature buckets + selection
# size for the DSIR-style importance selection (operators.mixing
# .domain_relevance_scores — keep in sync with mixing.DSIR_BUCKETS)
_DSIR_B = 64
_DSIR_K = 100


# q61 drift branch: equi-width buckets over token counts (lo 0, hi
# 512, 64 buckets => width 8.0 exact) — MUST mirror
# sketches.histogram_sketch_grouped's clamp chain; and the derived
# "re-release" snapshot (10% of keys dropped, every 5th text doubled)
_DRIFT_NEW_TEXT = (
    "(CASE WHEN doc_id % 5 = 0 THEN text || ' ' || text ELSE text END)"
)


def _drift_bucket(v: str) -> str:
    return (
        f"CAST(least(greatest(floor((CAST({v} AS DOUBLE) - 0.0) / 8.0),"
        " 0), 63) AS INT)"
    )


def _mixing_sql() -> str:
    """DuckDB twin of mix_sources: derive the per-source acceptance
    rates from the data with the SAME double-precision op sequence
    mixture_rates runs in Python — n/norm per source, min() cap,
    (norm*cap)/n rate, floor(rate*2^32) threshold. Every operation is a
    single IEEE binary64 op on identical operands in both engines, so
    the survivor sets agree exactly (no tolerance)."""
    # STRING-cast literals: a bare 17-digit decimal parses via DECIMAL
    # and DuckDB's wide-DECIMAL->DOUBLE is not correctly rounded (1 ULP
    # off ~8% of the time — a 1-ULP rate shift moves the integer
    # threshold and can flip a knife-edge survivor). strtod is exact.
    norm_case = " ".join(
        f"WHEN {rk + 1} THEN CAST('{norm!r}' AS DOUBLE)"
        for rk, norm in enumerate(_MIX_NORM)
    )
    h = f"({P.token_hash32('CAST(d.doc_id AS VARCHAR)', D)} % {_M})"
    qx = QL._quality_exprs(D)
    scores = P.lang_scores("text", D)
    score_cols = ", ".join(
        f"{e} AS score_{lang}" for lang, e in scores.items()
    )
    pred = P.lang_predict({l: f"score_{l}" for l in P.LANG_MARKERS})
    null_card = """
           CAST(NULL AS BIGINT) AS n_docs, CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS BIGINT) AS distinct_texts,
           CAST(NULL AS DOUBLE) AS dup_rate,
           CAST(NULL AS DOUBLE) AS mean_quality,
           CAST(NULL AS DOUBLE) AS pct_lang_pure,
           CAST(NULL AS DOUBLE) AS gini_chars"""
    return f"""
    WITH RECURSIVE ranked AS (
      SELECT source, row_number() OVER (ORDER BY source) AS rk
      FROM (SELECT DISTINCT source FROM documents)
    ),
    counts AS (
      SELECT d.source, CAST(count(*) AS DOUBLE) AS n, min(r.rk) AS rk
      FROM documents d JOIN ranked r ON d.source = r.source
      WHERE r.rk <= {len(_MIX_RANK_WEIGHTS)}
      GROUP BY d.source
    ),
    normed AS (
      SELECT source, n, CASE rk {norm_case} END AS norm FROM counts
    ),
    cap AS (SELECT min(n / norm) AS cap FROM normed),
    rates AS (
      SELECT source, (norm * (SELECT cap FROM cap)) / n AS rate FROM normed
    ),
    -- temp branch: temperature-scaled mixing over ALL non-NULL
    -- sources, rates re-derived from the data with operators.mixing
    -- .temperature_rates' exact op sequence — n^0.5 via the sqrt
    -- chain (correctly rounded everywhere), the un-normalized
    -- cancel form so no order-sensitive float sum exists, and the
    -- binding source(s) clamped to rate exactly 1.0 by the same
    -- n/w = cap equality test (the round-trip (w*cap)/n can land one
    -- ulp below 1 for non-square counts)
    tcounts AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n
      FROM documents WHERE source IS NOT NULL GROUP BY source
    ),
    tcap AS (
      SELECT min(n / {P.dyadic_pow('n', 0.5, D)}) AS cap FROM tcounts
    ),
    trates AS (
      SELECT source,
             CASE WHEN n / {P.dyadic_pow('n', 0.5, D)}
                       = (SELECT cap FROM tcap)
                  THEN CAST(1.0 AS DOUBLE)
                  ELSE ({P.dyadic_pow('n', 0.5, D)}
                        * (SELECT cap FROM tcap)) / n
             END AS rate
      FROM tcounts
    ),
    -- card branch: the per-source data card, every metric re-derived
    -- independently — counts/distinct-digests exactly, the mean
    -- quality via the scaled-long exact sum (davg), purity over the
    -- 0/1 predictions (integer-exact in float), and the Gini via the
    -- rank-weighted ascending sort fold: sum_i ch_i * (n - i + 1) =
    -- sum of prefix sums = S, gini = ((n+1)*T - 2*S) / (n*T) — one
    -- IEEE division of two exact integers on both engines
    qsc AS (
      SELECT source, text, {qx['n_tokens']} AS n_tok,
             {qx['quality_score']} AS q, {score_cols}
      FROM documents
    ),
    predq AS (SELECT *, ({pred}) AS pred_lang FROM qsc),
    cardbase AS (
      SELECT source,
             count(*) AS n_docs,
             sum(n_tok) AS n_tokens,
             count(DISTINCT md5(text)) AS distinct_texts,
             round(CAST(({davg_sql('q', 6)}) AS DOUBLE), 6) AS mean_quality,
             round(CAST(avg(CASE WHEN pred_lang = 'en' THEN 1.0
                                 ELSE 0.0 END) AS DOUBLE),
                   6) AS pct_lang_pure
      FROM predq GROUP BY source
    ),
    lens AS (
      SELECT source, CAST(length(text) AS BIGINT) AS ch FROM documents
    ),
    rw AS (
      SELECT source, ch,
             row_number() OVER (PARTITION BY source ORDER BY ch) AS rn,
             count(*) OVER (PARTITION BY source) AS n,
             sum(ch) OVER (PARTITION BY source) AS tot
      FROM lens
    ),
    gin AS (
      SELECT source,
             round(CAST(((max(n) + 1) * max(tot)
                         - 2 * sum(ch * (n - rn + 1))) AS DOUBLE)
                   / CAST((max(n) * max(tot)) AS DOUBLE), 6) AS gini_chars
      FROM rw GROUP BY source
    ),
    -- budget branch: water-fill an absolute token budget over sources
    -- (operators.mixing.budget_quotas) re-run as a recursive CTE over
    -- ONE row of sorted per-source lists. Per round: remaining =
    -- budget minus pinned masses (exact integer-valued doubles, so
    -- order-free), sumw = the left fold over FREE weights in sorted
    -- source order (Python's sum() over the sorted free list), pin
    -- every free source whose w*rem/sumw >= n. Recursion stops when a
    -- round pins nothing; rates then mirror mix_sources_budget's
    -- quota/mass (pinned sources rate exactly 1.0). Every float op is
    -- the same IEEE sequence Python runs, so survivor sets match
    -- bit-exact with NO tolerance.
    bsrc AS (
      SELECT source, CAST(sum({qx['n_tokens']}) AS DOUBLE) AS n
      FROM documents WHERE source IS NOT NULL GROUP BY source
    ),
    bbud AS (
      SELECT CAST(floor(CAST('{_BUDGET_FRAC}' AS DOUBLE)
                        * CAST(sum(CAST(n AS BIGINT)) AS DOUBLE))
                  AS DOUBLE) AS b
      FROM bsrc
    ),
    wfill AS (
      SELECT 0 AS rnd, (SELECT b FROM bbud) AS b,
             list(source ORDER BY source) AS srcs,
             list(n ORDER BY source) AS ns,
             list({P.dyadic_pow('n', _BUDGET_ALPHA, D)}
                  ORDER BY source) AS ws,
             list(FALSE ORDER BY source) AS pinned
      FROM bsrc
      UNION ALL
      SELECT rnd + 1, b, srcs, ns, ws, newpinned FROM (
        SELECT rnd, b, srcs, ns, ws, pinned,
               list_transform(range(1, len(srcs) + 1),
                 i -> pinned[i] OR (ws[i] * rem / sumw >= ns[i])
               ) AS newpinned
        FROM (
          SELECT *,
            b - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(
                    list_filter(range(1, len(srcs) + 1),
                                i -> pinned[i]),
                    i -> ns[i])),
                  (acc, x) -> acc + x) AS rem,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(
                    list_filter(range(1, len(srcs) + 1),
                                i -> NOT pinned[i]),
                    i -> ws[i])),
                  (acc, x) -> acc + x) AS sumw
          FROM wfill
        )
      ) WHERE newpinned <> pinned
    ),
    wfin AS (
      SELECT *,
        b - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(
                list_filter(range(1, len(srcs) + 1), i -> pinned[i]),
                i -> ns[i])),
              (acc, x) -> acc + x) AS rem,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(
                list_filter(range(1, len(srcs) + 1),
                            i -> NOT pinned[i]),
                i -> ws[i])),
              (acc, x) -> acc + x) AS sumw
      FROM wfill ORDER BY rnd DESC LIMIT 1
    ),
    widx AS (
      SELECT unnest(range(1, len(srcs) + 1)) AS i,
             srcs, ns, ws, pinned, rem, sumw
      FROM wfin
    ),
    wrates AS (
      SELECT srcs[i] AS source,
             CASE WHEN pinned[i] THEN CAST(1.0 AS DOUBLE)
                  ELSE (ws[i] * rem / sumw) / ns[i] END AS rate
      FROM widx
    ),
    -- drift branch: per-source length-distribution TVD between the
    -- corpus and its derived re-release (10% of keys dropped, every
    -- 5th text doubled), re-deriving the bucketization, the exact
    -- cross-multiplied L1 numerator, and the one final division
    dr_old AS (
      SELECT source, {_drift_bucket(P.size_(P.split_ws('text', D), D))}
             AS bucket
      FROM documents WHERE source IS NOT NULL
    ),
    dr_new AS (
      SELECT source,
             {_drift_bucket(P.size_(P.split_ws(_DRIFT_NEW_TEXT, D), D))}
             AS bucket
      FROM documents
      WHERE source IS NOT NULL AND doc_id % 10 <> 3
    ),
    dr_ha AS (
      SELECT source, bucket, count(*) AS a FROM dr_old
      GROUP BY source, bucket
    ),
    dr_hb AS (
      SELECT source, bucket, count(*) AS b FROM dr_new
      GROUP BY source, bucket
    ),
    dr_j AS (
      SELECT COALESCE(ha.source, hb.source) AS source,
             COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
      FROM dr_ha ha FULL OUTER JOIN dr_hb hb
        ON ha.source = hb.source AND ha.bucket = hb.bucket
    ),
    dr_tot AS (
      SELECT source, CAST(SUM(a) AS BIGINT) AS n_old,
             CAST(SUM(b) AS BIGINT) AS n_new
      FROM dr_j GROUP BY source
    ),
    dr AS (
      SELECT j.source, t.n_old, t.n_new,
             CAST(SUM(ABS(j.a * t.n_new - j.b * t.n_old)) AS BIGINT)
               AS l1_num
      FROM dr_j j JOIN dr_tot t ON t.source = j.source
      GROUP BY j.source, t.n_old, t.n_new
    ),
    -- dsir branch: DSIR-style hashed-unigram importance selection —
    -- per-bucket weights are FLOORED-base-2 log likelihood ratios of
    -- Laplace-smoothed target vs pool counts (integer-exact; real
    -- logs are libm-bound), per-doc scores are order-free integer
    -- sums, selection is top-k by (score DESC, doc_id)
    dsb AS (SELECT min(source) AS tgt FROM documents
            WHERE source IS NOT NULL),
    dtok AS (
      SELECT d.doc_id, d.source,
             ({P.token_hash32("CONCAT(v, ':dsir')", D)}) % {_DSIR_B}
               AS bucket
      FROM (SELECT doc_id, source, unnest({P.split_ws('text', D)}) AS v
            FROM documents WHERE source IS NOT NULL) d
    ),
    dtc AS (SELECT bucket, count(*) AS ct FROM dtok
            WHERE source = (SELECT tgt FROM dsb) GROUP BY 1),
    dpc AS (SELECT bucket, count(*) AS cp FROM dtok
            WHERE source <> (SELECT tgt FROM dsb) GROUP BY 1),
    dwt AS (
      SELECT p.bucket,
             CAST(({P.ilog2('(COALESCE(t.ct, 0) + 1)', D)})
                  - ({P.ilog2('(p.cp + 1)', D)}) AS BIGINT) AS w
      FROM dpc p LEFT JOIN dtc t ON t.bucket = p.bucket
    ),
    dsc AS (
      SELECT b.doc_id, min(b.source) AS source,
             CAST(SUM(w.w) AS BIGINT) AS score
      FROM dtok b JOIN dwt w ON w.bucket = b.bucket
      WHERE b.source <> (SELECT tgt FROM dsb)
      GROUP BY b.doc_id
    ),
    dsl AS (
      SELECT doc_id, source, score,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rk
      FROM dsc
    )
    SELECT 'mix' AS mode, d.doc_id, d.source,{null_card}
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {h} < CAST(floor(r.rate * {_M}) AS BIGINT)
    UNION ALL
    SELECT 'temp', d.doc_id, d.source,{null_card}
    FROM documents d JOIN trates r ON d.source = r.source
    WHERE {h} < CAST(floor(r.rate * {_M}) AS BIGINT)
    UNION ALL
    SELECT 'card', CAST(NULL AS BIGINT), c.source, c.n_docs, c.n_tokens,
           c.distinct_texts,
           round(1.0 - CAST(c.distinct_texts AS DOUBLE) / c.n_docs, 6),
           c.mean_quality, c.pct_lang_pure, g.gini_chars
    FROM cardbase c JOIN gin g USING (source)
    UNION ALL
    SELECT 'budget', d.doc_id, d.source,{null_card}
    FROM documents d JOIN wrates r ON d.source = r.source
    WHERE {h} < CAST(floor(r.rate * {_M}) AS BIGINT)
    UNION ALL
    -- split branch: the shipped train/val/test assignment, re-derived
    -- per doc from the same content hash + exact integer thresholds
    SELECT 'split_' || ({P.split_assign('text', list(_SPLIT_RATIOS), D)}),
           doc_id, source,{null_card}
    FROM documents
    UNION ALL
    SELECT 'drift', CAST(NULL AS BIGINT), source, n_old, n_new, l1_num,
           CASE WHEN n_old = 0 OR n_new = 0 THEN CAST(NULL AS DOUBLE)
                ELSE CAST(l1_num AS DOUBLE)
                     / CAST(2 * n_old * n_new AS DOUBLE) END,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM dr
    UNION ALL
    SELECT 'dsir', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           bucket, w, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE)
    FROM dwt
    UNION ALL
    SELECT 'dsir', doc_id, source, rk, score, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM dsl WHERE rk <= {_DSIR_K}
    """


@query(
    "q61_domain_mixing",
    branches=(
        "mix", "temp", "budget", "card", "split_train", "split_val",
        "split_test", "drift", "dsir",
    ),
    oracle=_mixing_sql(),
)
@build_memo
def q61_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mix``: down-sample each over-weighted source to literal
    target ratios via hash-bucket acceptance (operators.mixing): one
    S-row count job folds the rates into a pure map-side filter — at
    100 TB the scan carries a literal predicate; no join, no shuffle,
    no rand(). ``card`` (round 9): the per-source data card a
    training-data release ships (operators.report.corpus_report —
    volumes, token counts, exact-dup rate, scaled-long-exact mean
    quality, language purity, and the Gini of document length whose
    integral path is ONE IEEE division of two exact integers), every
    column driver-VALUE-checked against DuckDB's independent
    rederivation on the same source grain. ``split_train/val/test``
    (round 9): operators.sampling.assign_split — the deterministic
    leakage-safe 80/10/10 assignment shipped next to the card
    (content-hash against exact integer thresholds: byte-identical
    documents land in the same split however many ids carry them; no
    rand(), no TABLESAMPLE), the per-doc assignment value-checked
    against the oracle's identical CASE. ``temp`` (round 9):
    temperature-scaled mixing (operators.mixing
    .mix_sources_temperature, α = 0.5) — the multilingual-pretraining
    resampling that flattens source shares toward n^α; the rates are
    data-derived (n^0.5 via exact sqrt chains, the un-normalized
    cancel form with no order-sensitive float sum), so the oracle
    re-derives them IN SQL and the survivor set matches bit-exact.
    Same 100 TB shape as ``mix``: one S-row count job, then a pure
    literal map-side predicate on the scan.

    Memoized per (session, corpus) — the q41/q54 convention: each of
    the branch timings re-built the eight-child union and re-ran the
    blocking source-list/count jobs the mixers fold into their
    literal predicates."""
    from .operators.mixing import mix_sources_temperature
    from .operators.report import corpus_report
    from .operators.sampling import assign_split

    docs = load_table(spark, sf_dir, "documents")
    srcs = sorted(
        r[0] for r in docs.select("source").distinct().collect()
    )[: len(_MIX_RANK_WEIGHTS)]
    if len(srcs) < len(_MIX_RANK_WEIGHTS):
        raise ValueError(
            f"q61 needs >= {len(_MIX_RANK_WEIGHTS)} distinct sources, "
            f"corpus has {len(srcs)}"
        )
    weights = dict(zip(srcs, _MIX_RANK_WEIGHTS))
    card_cols = (
        ("n_docs", "long"),
        ("n_tokens", "long"),
        ("distinct_texts", "long"),
        ("dup_rate", "double"),
        ("mean_quality", "double"),
        ("pct_lang_pure", "double"),
        ("gini_chars", "double"),
    )
    # ONE selectExpr per union child (the q58 pad convention): the
    # per-column F.lit/.cast/.alias chains cost ~3 py4j round trips a
    # column over 8 branches; SQL strings assemble for free and cross
    # the gateway once, parsing to the identical plan.
    pad_sql = [f"CAST(NULL AS {t}) AS {c}" for c, t in card_cols]
    mix = mix_sources(docs, weights).selectExpr(
        "'mix' AS mode", "doc_id", "source", *pad_sql
    )
    temp = mix_sources_temperature(docs, alpha=0.5).selectExpr(
        "'temp' AS mode", "doc_id", "source", *pad_sql
    )
    # budget branch (round 10): water-fill an absolute TOKEN budget —
    # 97% of the corpus token mass, n^0.5 target shares — over the
    # sources (operators.mixing.budget_quotas / mix_sources_budget).
    # One S-row mass job feeds BOTH the budget derivation and the
    # operator (counts= skips the recount); survival is the same pure
    # map-side literal hash-threshold filter as mix/temp. The oracle
    # re-runs the fixpoint as a recursive CTE, so the pinned set, the
    # quotas, and the per-doc survivor set are all value-checked.
    import math

    from .operators.mixing import mix_sources_budget

    tok_expr = QL._quality_exprs(P.SPARK)["n_tokens"]
    masses = {
        r["source"]: r["n"]
        for r in docs.filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.sum(F.expr(tok_expr)).alias("n"))
        .collect()
    }
    b = float(math.floor(
        float(_BUDGET_FRAC) * float(sum(masses.values()))
    ))
    budget = mix_sources_budget(
        docs, b, alpha=_BUDGET_ALPHA, weight_expr=tok_expr,
        counts=masses,
    ).selectExpr("'budget' AS mode", "doc_id", "source", *pad_sql)
    card = corpus_report(docs).selectExpr(
        "'card' AS mode", "CAST(NULL AS long) AS doc_id", "source",
        *[c for c, _ in card_cols],
    )
    # one union child per split with a LITERAL tag (the q40 diff
    # convention): a computed concat('split_', split) tag cannot fold,
    # so it would keep the split scan under every other branch's filter
    assigned = assign_split(docs, list(_SPLIT_RATIOS))
    splits = [
        assigned.filter(F.col("split") == s).selectExpr(
            f"'split_{s}' AS mode", "doc_id", "source", *pad_sql
        )
        for s, _ in _SPLIT_RATIOS
    ]
    # drift branch (round 10): per-source length-distribution TVD vs a
    # derived re-release (operators.diffs.corpus_drift_report) — the
    # statistical release audit next to q40's key-level diff. Columns
    # shoehorn into the slot contract: n_docs=n_old, n_tokens=n_new,
    # distinct_texts=the exact integer L1 numerator, dup_rate=tvd.
    from .operators.diffs import corpus_drift_report

    src_docs = docs.filter(F.col("source").isNotNull())
    snap_new = src_docs.filter(F.col("doc_id") % 10 != 3).select(
        "source",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    drift = corpus_drift_report(src_docs, snap_new).selectExpr(
        "'drift' AS mode",
        "CAST(NULL AS long) AS doc_id",
        "source",
        "n_old AS n_docs",
        "n_new AS n_tokens",
        "l1_num AS distinct_texts",
        "tvd AS dup_rate",
        "CAST(NULL AS double) AS mean_quality",
        "CAST(NULL AS double) AS pct_lang_pure",
        "CAST(NULL AS double) AS gini_chars",
    )
    # dsir branch (round 11): DSIR-style hashed-unigram importance
    # selection (operators.mixing.domain_relevance_scores/_select) —
    # the model (per-bucket integer floored-log2 likelihood ratios,
    # ≤ 64 broadcastable rows) AND the top-k selection both
    # value-checked; the oracle re-derives counts, weights, scores,
    # and the (score DESC, doc_id) rank
    from .operators.mixing import (
        domain_relevance_scores,
        domain_relevance_select,
    )

    dw_df, dscores = domain_relevance_scores(
        docs, srcs[0], buckets=_DSIR_B
    )
    dsel = domain_relevance_select(dscores, _DSIR_K)
    dsir_w = dw_df.selectExpr(
        "'dsir' AS mode",
        "CAST(NULL AS long) AS doc_id",
        "CAST(NULL AS string) AS source",
        "CAST(bucket AS long) AS n_docs",
        "w AS n_tokens",
        *pad_sql[2:],
    )
    dsir_s = dsel.selectExpr(
        "'dsir' AS mode",
        "doc_id",
        "source",
        "CAST(rk AS long) AS n_docs",
        "score AS n_tokens",
        *pad_sql[2:],
    )
    out = mix
    for child in (temp, budget, card, *splits, drift, dsir_w, dsir_s):
        out = out.unionByName(child)
    return out


# --- q62: PII scrubbing ---------------------------------------------------

def _ccn_text(d: str) -> str:
    """The ``ccn`` branch's input: the corpus text with DERIVED digit
    runs appended (the q61-drift convention for exercising a detector
    the synthetic corpus can't) — a per-doc 16-digit number whose Luhn
    check digit is CORRECT when doc_id % 3 = 0 and broken (+5 mod 10)
    otherwise, plus a constant checksum-failing 16-digit decoy in
    every doc. A validating scrubber must redact exactly the first
    run on every third doc and nothing else."""
    s = "STRING" if d == P.SPARK else "VARCHAR"
    base = (
        f"lpad(CAST((doc_id * 7919) % 1000000000000000 AS {s}), 15, '0')"
    )
    padded = f"({base} || '0')"
    chk = f"((10 - ({P.luhn_sum(padded, d)}) % 10) % 10)"
    cc = (
        f"(CASE WHEN doc_id % 3 = 0 THEN {base} || CAST({chk} AS {s})"
        f" ELSE {base} || CAST(({chk} + 5) % 10 AS {s}) END)"
    )
    return f"(text || ' card ' || {cc} || ' ref 1234567890123456')"


@query(
    "q62_pii_scrub",
    branches=("pii", "norm", "ccn"),
    oracle=f"""
    SELECT 'pii' AS mode, doc_id,
           {P.pii_scrub('text', D)} AS out_text,
           CAST({P.pii_count('text', D)} AS BIGINT) AS n_delta
    FROM documents
    UNION ALL
    SELECT 'norm', doc_id,
           {P.normalize_text('text', D)},
           CAST(length(text)
                - length({P.normalize_text('text', D)}) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'ccn', doc_id,
           {P.cc_scrub(_ccn_text(D), D)},
           CAST({P.cc_count(_ccn_text(D), D)} AS BIGINT)
    FROM documents
    """,
)
def q62_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pii``: redact emails/IPv4s/phones/long digit runs (ordered
    regexp_replace chain, Java∩RE2 subset) + the single-pass
    alternation match count (an approximation of sequential-scrub
    replacements — see functions.portable.pii_count). ``norm`` (round
    9): the CCNet/C4-style text-normalization pre-clean
    (functions.portable.normalize_text — mojibake repair, NFC-lite
    recomposition, control strip, newline/whitespace canonicalization)
    with the character-count delta as its metric, driver-VALUE-checked
    against DuckDB's independent rendering of the same chain. ``ccn``
    (round 10): Luhn-VALIDATED card-number redaction
    (functions.portable.cc_scrub/cc_count) — the precision refinement
    of the bare digit-run pattern: only runs whose mod-10 check digit
    holds redact, so order ids and the constant checksum-failing decoy
    pass through; exercised on a derived text with per-doc valid and
    invalid runs (see _ccn_text), every digit of detector, checksum,
    and replacement value-checked by the oracle. All branches are pure
    map-side column expressions; rebalanced off the single scan
    partition so the per-byte regex work spreads across cores (the
    q48 rationale)."""
    docs = _rebalance(load_table(spark, sf_dir, "documents"), "doc_id")
    pii = docs.select(
        F.lit("pii").alias("mode"),
        "doc_id",
        F.expr(P.pii_scrub("text", P.SPARK)).alias("out_text"),
        F.expr(P.pii_count("text", P.SPARK)).cast("long").alias("n_delta"),
    )
    norm_expr = P.normalize_text("text", P.SPARK)
    norm = docs.select(
        F.lit("norm").alias("mode"),
        "doc_id",
        F.expr(norm_expr).alias("out_text"),
        (F.length("text") - F.length(F.expr(norm_expr)))
        .cast("long")
        .alias("n_delta"),
    )
    ccn_src = _ccn_text(P.SPARK)
    ccn = docs.select(
        F.lit("ccn").alias("mode"),
        "doc_id",
        F.expr(P.cc_scrub(ccn_src, P.SPARK)).alias("out_text"),
        F.expr(P.cc_count(ccn_src, P.SPARK)).cast("long").alias("n_delta"),
    )
    return pii.unionByName(norm).unionByName(ccn)


# --- q63: the corpus funnel end-to-end, one row ---------------------------

_FUNNEL_MIN_QUALITY = 0.25
_FUNNEL_LANG = "en"
_FUNNEL_MAX_HAMMING = 3
_FUNNEL_CHUNK = 32
_FUNNEL_STRIDE = 24
_FUNNEL_PACK_BUDGET = 96


def _funnel_sql() -> str:
    qscore = QL._quality_exprs(D)["quality_score"]
    scores = P.lang_scores("text", D)
    score_cols = ", ".join(
        f"{e} AS score_{lang}" for lang, e in scores.items()
    )
    pred = P.lang_predict({l: f"score_{l}" for l in P.LANG_MARKERS})
    toks = P.split_ws("text", D)
    n = P.size_("toks", D)
    starts = P.seq_step("1", n, _FUNNEL_STRIDE, D)
    B = _FUNNEL_PACK_BUDGET
    return f"""
    WITH RECURSIVE quality AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE {qscore} >= {_FUNNEL_MIN_QUALITY}
    ),
    ls AS (SELECT doc_id, text, {score_cols} FROM quality),
    lang AS MATERIALIZED (SELECT doc_id, text FROM ls WHERE ({pred}) = '{_FUNNEL_LANG}'),
    exact AS MATERIALIZED (
      SELECT doc_id, text FROM lang
      WHERE doc_id IN (SELECT min(doc_id) FROM lang GROUP BY md5(text))
    ),
    thv AS (
      SELECT doc_id, {P.token_hash_array('text', D)} AS thv FROM exact
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
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {_FUNNEL_MAX_HAMMING}
    ),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    comp(node, lab) AS (
      SELECT doc_id, doc_id FROM exact
      UNION
      SELECT u.dst, c.lab FROM comp c JOIN und u ON u.src = c.node
    ),
    labeled AS (
      SELECT node AS doc_id, min(lab) AS component_id FROM comp GROUP BY node
    ),
    keep AS MATERIALIZED (SELECT doc_id FROM labeled WHERE doc_id = component_id),
    surv AS MATERIALIZED (
      SELECT doc_id, {P.pii_scrub('text', D)} AS text FROM exact
      WHERE doc_id IN (SELECT doc_id FROM keep)
    ),
    tok AS MATERIALIZED (SELECT doc_id, {toks} AS toks FROM surv),
    ex AS MATERIALIZED (SELECT doc_id, {n} AS n, unnest({starts}) AS start FROM tok),
    -- canonical packing twin: per-document greedy first-fit over the
    -- chunk sizes (chunk_idx IS the fold order — starts step uniformly,
    -- so indices are consecutive from 1). New pack when the open pack
    -- can't take the chunk; a pack reaching the budget closes.
    chunkstats AS MATERIALIZED (
      SELECT doc_id,
             {P.idiv('start - 1', str(_FUNNEL_STRIDE), D)} + 1 AS rn,
             least({_FUNNEL_CHUNK}, n - start + 1) AS n_tokens
      FROM ex
    ),
    packfold(doc_id, rn, pack_seq, open_cum) AS (
      SELECT doc_id, rn, 0,
             CASE WHEN n_tokens >= {B} THEN 0 ELSE n_tokens END
      FROM chunkstats WHERE rn = 1
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
      FROM packfold p JOIN chunkstats c
        ON c.doc_id = p.doc_id AND c.rn = p.rn + 1
    ),
    packs AS (SELECT DISTINCT doc_id, pack_seq FROM packfold),
    -- ======== delta branch: the day-2 funnel (corpus_stages_delta) =======
    -- hist = doc_id % 3 <> 0 is "yesterday's corpus"; its digest and
    -- SimHash band indexes are re-derived here exactly as
    -- exact_text_dedup(language) / simhash_band_index(exact) build
    -- them, then the delta (doc_id % 3 = 0) runs the admission
    -- contract: within-delta components (pairwise banded edges are
    -- closure-equal to the operator's star contraction), a component
    -- is poisoned iff any member's sketch band-collides with an index
    -- sketch within the Hamming radius.
    lang_h AS MATERIALIZED (SELECT * FROM lang WHERE doc_id % 3 <> 0),
    -- the band index needs only the DISTINCT sketches of the day-1
    -- language stage (dedup does not change the distinct-text set and
    -- admission never reads index ids), so no exact_h pass is needed
    thv_h AS (
      SELECT doc_id, {P.token_hash_array('text', D)} AS thv FROM lang_h
    ),
    sh_h AS (
      SELECT doc_id, {P.simhash_from_hashes('thv', D)} AS simhash FROM thv_h
    ),
    idx_sh AS MATERIALIZED (
      SELECT min(doc_id) AS doc_id, simhash FROM sh_h GROUP BY simhash
    ),
    idxbands AS ({QL._simhash_bands_sql('idx_sh')}),
    dig_idx AS MATERIALIZED (SELECT DISTINCT md5(text) AS h FROM lang_h),
    lang_d AS MATERIALIZED (SELECT * FROM lang WHERE doc_id % 3 = 0),
    exact_d AS MATERIALIZED (
      SELECT doc_id, text FROM lang_d
      WHERE doc_id IN (SELECT min(doc_id) FROM lang_d GROUP BY md5(text))
        AND md5(text) NOT IN (SELECT h FROM dig_idx)
    ),
    thv_d AS (
      SELECT doc_id, {P.token_hash_array('text', D)} AS thv FROM exact_d
    ),
    sh_d AS MATERIALIZED (
      SELECT doc_id, {P.simhash_from_hashes('thv', D)} AS simhash FROM thv_d
    ),
    dbands AS MATERIALIZED ({QL._simhash_bands_sql('sh_d')}),
    dpairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dbands a JOIN dbands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {_FUNNEL_MAX_HAMMING}
    ),
    dund AS (
      SELECT doc_a AS src, doc_b AS dst FROM dpairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dpairs
    ),
    dcomp(node, lab) AS (
      SELECT doc_id, doc_id FROM exact_d
      UNION
      SELECT u.dst, c.lab FROM dcomp c JOIN dund u ON u.src = c.node
    ),
    dlabeled AS MATERIALIZED (
      SELECT node AS doc_id, min(lab) AS component_id FROM dcomp GROUP BY node
    ),
    hit_sh AS (
      SELECT DISTINCT db.simhash
      FROM dbands db JOIN idxbands ib
        ON db.band_idx = ib.band_idx AND db.band_val = ib.band_val
      WHERE bit_count(xor(db.simhash, ib.simhash)) <= {_FUNNEL_MAX_HAMMING}
    ),
    dpoisoned AS (
      SELECT DISTINCT l.component_id
      FROM dlabeled l JOIN sh_d s USING (doc_id)
      WHERE s.simhash IN (SELECT simhash FROM hit_sh)
    ),
    dadmit AS MATERIALIZED (
      SELECT doc_id FROM dlabeled
      WHERE doc_id = component_id
        AND component_id NOT IN (SELECT component_id FROM dpoisoned)
    ),
    dsurv AS (
      SELECT doc_id, {P.pii_scrub('text', D)} AS text FROM exact_d
      WHERE doc_id IN (SELECT doc_id FROM dadmit)
    ),
    dtok AS (SELECT doc_id, {toks} AS toks FROM dsurv),
    dex AS (SELECT doc_id, unnest({starts}) AS start FROM dtok)
    SELECT 'full' AS mode,
      (SELECT count(*) FROM documents) AS n_raw,
      (SELECT count(*) FROM quality) AS n_quality,
      (SELECT count(*) FROM lang) AS n_language,
      (SELECT count(*) FROM exact) AS n_exact_dedup,
      (SELECT count(*) FROM keep) AS n_neardup_survivors,
      (SELECT count(*) FROM ex) AS n_chunks,
      (SELECT count(*) FROM packs) AS n_packs
    UNION ALL
    SELECT 'delta',
      (SELECT count(*) FROM documents WHERE doc_id % 3 = 0),
      (SELECT count(*) FROM quality WHERE doc_id % 3 = 0),
      (SELECT count(*) FROM lang_d),
      (SELECT count(*) FROM exact_d),
      (SELECT count(*) FROM dadmit),
      (SELECT count(*) FROM dex),
      CAST(NULL AS BIGINT)
    """


@query(
    "q63_corpus_funnel",
    branches=("full", "delta"),
    oracle=_funnel_sql(),
)
@build_memo
def q63_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pretrain corpus funnel (pipelines.corpus_stages) as one
    driver-checked row: per-stage survivor counts for quality filter →
    language filter → exact dedup → near-dup component survivor → PII
    scrub → overlapping chunks → canonical sequence packing. The
    composition is the claim — each stage's operator already has its
    own green row or property suite; this proves they compose (filters
    fused into the scan, dedup semi joins, component closure,
    scrub-before-chunk ordering) without re-testing any stage in
    isolation. n_packs hard-checks the CANONICAL packing mode through
    the driver (its per-document greedy fold is partition-independent,
    so the DuckDB recursive-fold twin reproduces the exact pack
    count).

    Round-6 tag merge: the ``delta`` row runs the DAY-2 funnel
    (pipelines.corpus_stages_delta) — the doc_id % 3 = 0 split
    ingested against the remainder's persistent digest + SimHash band
    indexes — so the incremental admission contract (within-delta
    components, index-poisoned components dropped wholesale, min-id
    survivor) is value-checked by the driver end-to-end, with the
    oracle re-deriving both indexes and the admission in SQL.

    Memoized per (session, corpus): both funnels run their component
    loops EAGERLY at DataFrame-build time, so an un-memoized
    branch-timing filter pays BOTH branches' builds on every call."""
    docs = load_table(spark, sf_dir, "documents")

    import contextvars
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .operators.neardup import exact_text_dedup, simhash_band_index
    from .pipelines import corpus_stages_delta

    delta = docs.filter(F.col("doc_id") % 3 == 0)
    kw = dict(
        min_quality=_FUNNEL_MIN_QUALITY,
        languages=(_FUNNEL_LANG,),
        max_hamming=_FUNNEL_MAX_HAMMING,
        chunk_size=_FUNNEL_CHUNK,
        stride=_FUNNEL_STRIDE,
        scrub_pii=True,
    )

    # Day-1 index derivation WITHOUT a second funnel run: both indexes
    # are functions of the distinct TEXTS of the day-1 language stage
    # (the digest index stores content hashes; the band index stores
    # one rep per distinct sketch, and the admission's poison check
    # never reads index ids) — and the full funnel's persisted
    # language stage filtered to the hist split IS that stage
    # (row-wise filters commute).
    #
    # Overlap (guide §2.6): the delta funnel's only full-funnel input
    # is that language stage, so its EAGER build (index derivation +
    # within-delta component closure) launches from the language-stage
    # hook on its own driver thread and runs concurrently with the
    # full funnel's eager component stage — the two builds ran
    # sequentially before (~23 s + ~22 s standalone at sf0.1).
    pool = ThreadPoolExecutor(max_workers=1)
    delta_future: list = []

    def _kickoff_delta(language_df):
        lang_h = language_df.filter(F.col("doc_id") % 3 != 0)

        def _build_delta():
            spark.sparkContext.setJobDescription("build:q63_delta")
            try:
                return corpus_stages_delta(
                    delta,
                    exact_text_dedup(lang_h),
                    simhash_band_index(lang_h),
                    sketch="simhash",
                    **kw,
                )
            finally:
                spark.sparkContext.setJobDescription(None)

        # the copied context carries the active build into the pool
        # thread, so the delta funnel's persists are owned by the memo
        delta_future.append(
            pool.submit(
                contextvars.copy_context().run,
                inheritable_thread_target(_build_delta),
            )
        )

    spark.sparkContext.setJobDescription("build:q63_full")
    try:
        stages = corpus_stages(
            docs,
            min_quality=_FUNNEL_MIN_QUALITY,
            languages=(_FUNNEL_LANG,),
            max_hamming=_FUNNEL_MAX_HAMMING,
            chunk_size=_FUNNEL_CHUNK,
            stride=_FUNNEL_STRIDE,
            scrub_pii=True,
            pack_budget=_FUNNEL_PACK_BUDGET,
            language_stage_hook=_kickoff_delta,
        )
    finally:
        spark.sparkContext.setJobDescription(None)
    full_row = corpus_funnel_counts(stages).select(
        F.lit("full").alias("mode"), "*"
    )

    d2 = delta_future[0].result()
    pool.shutdown()
    delta_counts = {
        "n_raw": delta,
        "n_quality": d2["quality"],
        "n_language": d2["language"],
        "n_exact_dedup": d2["exact_admitted"],
        "n_neardup_survivors": d2["neardup_admitted"],
        "n_chunks": d2["chunks"],
    }
    delta_row = None
    for name, df in delta_counts.items():
        c = df.agg(F.count(F.lit(1)).alias(name))
        delta_row = c if delta_row is None else delta_row.crossJoin(c)
    delta_row = delta_row.select(
        F.lit("delta").alias("mode"),
        "*",
        F.lit(None).cast("long").alias("n_packs"),
    )
    return full_row.unionByName(delta_row)


# --- q64: benchmark decontamination (round 5) ------------------------------
# Eval split: doc_id % 97 == 0 plays the held-out benchmark; the rest
# is the training corpus. n=5 shingles on this corpus flag exactly the
# true near-duplicate overlap (n=3 drowns in small-vocab collisions,
# n=8 finds nothing) — the discrimination a real 13-gram stage gets
# from natural text's larger vocabulary.

_DECON_N = 5


def _decontam_sql() -> str:
    from .operators.sketches import bloom_member_sql, bloom_words_sql

    sh = P.shingles("text", _DECON_N, D)
    bregs = bloom_words_sql("SELECT gram AS v FROM bench")
    bmem = bloom_member_sql("SELECT DISTINCT gram AS v FROM tg", "bloomregs")
    return f"""
    WITH bench AS (
      SELECT DISTINCT unnest({sh}) AS gram
      FROM documents WHERE doc_id % 97 = 0
    ), tg AS (
      SELECT doc_id, unnest({sh}) AS gram
      FROM documents WHERE doc_id % 97 <> 0
    ), hits AS (
      SELECT doc_id, count(*) AS n_hits
      FROM tg JOIN bench USING (gram) GROUP BY doc_id
    ),
    {QL._sig_ctes(D)},
    bands AS ({QL._bands_cte(D)}),
    benchb AS (
      SELECT DISTINCT band_idx, band_key FROM bands WHERE doc_id % 97 = 0
    ),
    fhits AS (
      SELECT b.doc_id, count(*) AS n_hits
      FROM bands b JOIN benchb USING (band_idx, band_key)
      WHERE b.doc_id % 97 <> 0 GROUP BY b.doc_id
    ),
    bloomregs AS ({bregs}),
    bmem AS ({bmem}),
    bhits AS (
      SELECT tg.doc_id, count(*) AS n_hits
      FROM tg JOIN bmem ON bmem.v = tg.gram AND bmem.member
      GROUP BY tg.doc_id
    )
    SELECT 'exact' AS mode, d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 97 <> 0
    UNION ALL
    SELECT 'fuzzy', d.doc_id,
           CAST(COALESCE(f.n_hits, 0) AS BIGINT) AS n_hits,
           (f.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN fhits f ON d.doc_id = f.doc_id
    WHERE d.doc_id % 97 <> 0
    UNION ALL
    SELECT 'bloom', d.doc_id,
           CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS n_hits,
           (b.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN bhits b ON d.doc_id = b.doc_id
    WHERE d.doc_id % 97 <> 0
    """


@query(
    "q64_decontaminate",
    branches=("exact", "fuzzy", "bloom"),
    oracle=_decontam_sql(),
)
@build_memo
def q64_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both decontamination regimes in one driver row (round-5 tag
    merge). ``exact``: per training doc, the count of distinct 5-token
    shingles shared with the held-out split plus the drop flag —
    verbatim contamination. ``fuzzy``:
    operators.decontam.contamination_report_fuzzy — MinHash-LSH band
    collisions with the benchmark (12 hashes, 4 bands, the q41 sketch),
    catching paraphrase-level contamination exact shingle overlap is
    blind to. Either way the corpus side never shuffles: the benchmark
    shingle/band set broadcasts, matches partial-aggregate per doc, and
    the (tiny) hit list broadcasts back onto the scan for the flag
    join.

    Memoized per (session, corpus) — the q41/q54 convention: each
    branch timing re-built the three-branch union and re-collected the
    Bloom filter's benchmark shingle set (a blocking job per
    invocation)."""
    from .operators.decontam import (
        contamination_report,
        contamination_report_fuzzy,
    )

    docs = _rebalance(load_table(spark, sf_dir, "documents"), "doc_id")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)

    def flagged(hits: DataFrame, n_col: str, mode: str) -> DataFrame:
        return train.join(
            F.broadcast(hits.withColumnRenamed(n_col, "n_hits")),
            "doc_id",
            "left",
        ).select(
            F.lit(mode).alias("mode"),
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias(
                "n_hits"
            ),
            F.col("n_hits").isNotNull().alias("contaminated"),
        )

    exact = flagged(
        contamination_report(train, bench, n=_DECON_N),
        "n_contaminated", "exact",
    )
    fuzzy = flagged(
        contamination_report_fuzzy(train, bench), "n_band_hits", "fuzzy"
    )
    # bloom (round 9): the benchmark shingle set folded into the
    # exact-reproducible Bloom filter (operators.sketches), probed
    # MAP-SIDE as a literal word array inside a filter() HOF — zero
    # joins, zero corpus shuffle; no false negatives by construction,
    # FPR-bounded extras (the standard prefilter-then-exact-verify
    # shape at 100 TB: ~KB of plan literals instead of a broadcast
    # shingle table). The oracle re-derives the filter registers AND
    # every membership decision in SQL.
    from .operators.decontam import contamination_report_bloom

    bloom = contamination_report_bloom(train, bench, n=_DECON_N).select(
        F.lit("bloom").alias("mode"), "doc_id", "n_hits", "contaminated"
    )
    return exact.unionByName(fuzzy).unionByName(bloom)


# --- q65: corpus-trained n-gram LM scoring (round 5) -----------------------


# clf branch: seed label = the q48 quality heuristic above its corpus
# median (~50/50 at every shipped SF); the classifier then LEARNS
# hashed-vocabulary weights that reproduce that signal from token
# content alone — the DCLM/fastText quality-filter shape.
_CLF_LABEL_THR = "CAST('0.645' AS DOUBLE)"


def _lm_sql() -> str:
    from .operators.quality_clf import (
        CALIB_CLAMP as _CALIB_CLAMP,
        CALIB_WIDTH as _CALIB_W,
        train_score_sql,
    )

    grams = P.token_ngrams("text", 2, D)
    qx = QL._quality_exprs(D)
    clf = train_score_sql(
        f"({qx['quality_score']}) >= {_CLF_LABEL_THR}", d=D
    )
    return f"""
    WITH g AS (
      SELECT doc_id, unnest({grams}) AS gram FROM documents
    ), bg AS (
      SELECT gram, count(*) AS c_bg FROM g GROUP BY gram
    ), pref AS (
      SELECT split_part(gram, ' ', 1) AS prefix, SUM(c_bg) AS c_pref
      FROM bg GROUP BY prefix
    ), model AS (
      SELECT gram,
             CAST(c_bg AS DOUBLE) / CAST(c_pref AS DOUBLE) AS p
      FROM bg JOIN pref ON split_part(bg.gram, ' ', 1) = pref.prefix
    ), scored AS (
      SELECT doc_id,
             CAST(SUM(CAST(round(p * 1000000000, 0) AS BIGINT)) AS BIGINT)
               AS p_scaled_sum,
             count(*) AS n_bigrams
      FROM g JOIN model USING (gram) GROUP BY doc_id
    ), per_gram AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), top AS (
      SELECT doc_id, gram AS top_bigram, c AS top_bigram_count
      FROM (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram) AS rn
        FROM per_gram
      ) WHERE rn = 1
    ), clfs AS ({clf}),
    -- calib branch: reliability table of the clf score vs its seed
    -- label (operators.quality_clf.calibration_bins) — fixed-width
    -- clamped bins over the integer score, per-bin volume / positive
    -- count / exact score mass / empirical positive rate
    calb AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(CAST(c.clf_score AS DOUBLE)
               / {_CALIB_W}) AS BIGINT), {-_CALIB_CLAMP}),
             {_CALIB_CLAMP}) AS bin,
             CASE WHEN ({qx['quality_score']}) >= {_CLF_LABEL_THR}
                  THEN 1 ELSE 0 END AS pos,
             c.clf_score
      FROM clfs c JOIN documents d ON d.doc_id = c.doc_id
    ),
    calagg AS (
      SELECT bin, count(*) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(clf_score) AS BIGINT) AS sum_score
      FROM calb GROUP BY bin
    )
    SELECT 'lm' AS mode, s.doc_id,
           {P.round_dbl('CAST(p_scaled_sum AS DOUBLE) / CAST(1000000000 AS DOUBLE) / n_bigrams', 6, D)} AS lm_score,
           s.n_bigrams,
           t.top_bigram,
           t.top_bigram_count,
           {P.round_dbl('CAST(top_bigram_count AS DOUBLE) / n_bigrams', 6, D)} AS top_bigram_frac,
           CAST(NULL AS BIGINT) AS clf_score,
           CAST(NULL AS BIGINT) AS clf_n_tokens,
           CAST(NULL AS BOOLEAN) AS clf_keep
    FROM scored s JOIN top t ON s.doc_id = t.doc_id
    UNION ALL
    SELECT 'clf', doc_id, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), clf_score, clf_n_tokens, clf_keep
    FROM clfs
    UNION ALL
    SELECT 'calib', bin,
           CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), n,
           CAST(NULL AS VARCHAR), n_pos, CAST(NULL AS DOUBLE),
           sum_score, CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN)
    FROM calagg
    """


@query(
    "q65_lm_score",
    branches=("lm", "clf", "calib"),
    oracle=_lm_sql(),
)
@build_memo
def q65_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring, two branches. ``lm`` — CCNet-style
    LM scoring (operators.lm): a bigram transition model trained on
    the corpus in one aggregation, each doc scored by its mean
    transition probability, plus the Gopher top-bigram statistic; all
    probability math is single IEEE ops over exact integer counts (the
    per-doc mean accumulates SCALED LONGS, not doubles). ``clf``
    (round 9) — the hashing-trick linear classifier
    (operators.quality_clf, the DCLM/fastText filter shape): trained
    from seed labels in ONE 256-bucket distributed histogram, then the
    weight vector is folded into the plan as a LITERAL array so
    scoring is a pure map-side expression — no join, no explode, no
    shuffle; at 100 TB the model ships inside the plan and the corpus
    is scored in the same scan that reads it. The oracle re-derives
    the model AND the per-doc scores independently in SQL (join
    formulation), so weights, scores, and keep decisions are
    driver-VALUE-checked bit-exact.

    Memoized per (session, corpus) — the q41/q54 convention: each
    branch timing re-ran the classifier's bounded training job and the
    LM model fold at construction time."""
    from .operators.lm import lm_score
    from .operators.quality_clf import (
        score_inline,
        train_hashed_classifier,
        weights_vector,
    )

    docs = _rebalance(load_table(spark, sf_dir, "documents"), "doc_id")
    lm_cols = (
        ("lm_score", "double"),
        ("n_bigrams", "long"),
        ("top_bigram", "string"),
        ("top_bigram_count", "long"),
        ("top_bigram_frac", "double"),
    )
    clf_cols = (
        ("clf_score", "long"),
        ("clf_n_tokens", "long"),
        ("clf_keep", "boolean"),
    )
    lm = lm_score(docs).select(
        F.lit("lm").alias("mode"),
        "doc_id",
        *[F.col(c) for c, _ in lm_cols],
        *[F.lit(None).cast(t).alias(c) for c, t in clf_cols],
    )
    qx = QL._quality_exprs(P.SPARK)
    labeled = docs.withColumn(
        "__pos",
        F.expr(f"({qx['quality_score']}) >= {_CLF_LABEL_THR}"),
    )
    w = weights_vector(train_hashed_classifier(labeled, "__pos"))
    scored_all = score_inline(
        labeled.select("doc_id", "text", "__pos"), w
    )
    clf = scored_all.select(
        F.lit("clf").alias("mode"),
        "doc_id",
        *[F.lit(None).cast(t).alias(c) for c, t in lm_cols],
        *[F.col(c) for c, _ in clf_cols],
    )
    # calib branch (round 11): the reliability table of the clf score
    # against its seed label (operators.quality_clf.calibration_bins)
    # — per clamped fixed-width score bin: volume, positives, exact
    # score mass, and the empirical positive rate; the oracle
    # re-derives the binning and every aggregate. Columns shoehorn as
    # doc_id=bin, lm_score=pos_rate, n_bigrams=n,
    # top_bigram_count=n_pos, clf_score=sum_score.
    from .operators.quality_clf import calibration_bins

    calib = calibration_bins(scored_all).select(
        F.lit("calib").alias("mode"),
        F.col("bin").alias("doc_id"),
        F.col("pos_rate").alias("lm_score"),
        F.col("n").alias("n_bigrams"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.col("n_pos").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_frac"),
        F.col("sum_score").alias("clf_score"),
        F.lit(None).cast("long").alias("clf_n_tokens"),
        F.lit(None).cast("boolean").alias("clf_keep"),
    )
    return lm.unionByName(clf).unionByName(calib)
