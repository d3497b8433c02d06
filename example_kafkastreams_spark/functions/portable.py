"""Dual-dialect (Spark SQL / DuckDB SQL) expression builders.

The LLM-pipeline extension queries (MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine, fingerprints) hinge on *hash agreement*
between the engine and the DuckDB oracle. Every such expression is
therefore written ONCE here and rendered to both dialects — the two
sides cannot drift because they share a source of truth.

Portability contract (probed against pyspark 4.1 / duckdb 1.0):
- ``md5`` produces identical lowercase hex in both engines; min over
  fixed-length hex strings is a binary-collation lexicographic min in
  both, i.e. a min over the underlying 128-bit values.
- Lambda syntax ``x -> expr`` and ``(a, b) -> expr`` is shared; only
  the surrounding function names differ (``transform``/``list_transform``
  etc.), which is what these builders abstract.
- Double arithmetic folds are sequenced identically: Spark's
  ``aggregate(arr, init, f)`` computes ``f(..f(init, x1).., xn)``;
  DuckDB's ``list_reduce(list_prepend(init, arr), f)`` computes the
  same left fold — so IEEE results are bitwise equal.
- Integer arithmetic (`BIGINT` +, *, %) is exact in both.

Nothing here touches a SparkSession: builders return SQL strings. The
Spark side wraps them in ``F.expr``; the oracle side splices them into
the DuckDB query text.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duckdb"

HEX = "0123456789abcdef"


def _check(d: str) -> None:
    if d not in (SPARK, DUCK):
        raise ValueError(f"unknown dialect {d!r}")


# --- array / lambda primitives -------------------------------------------

def split_ws(col: str, d: str) -> str:
    """Whitespace tokenization (testdata text is single-space joined)."""
    _check(d)
    return f"split({col}, ' ')" if d == SPARK else f"string_split({col}, ' ')"


def transform_(arr: str, var: str, body: str, d: str) -> str:
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {var} -> {body})"


def filter_(arr: str, var: str, body: str, d: str) -> str:
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {var} -> {body})"


def size_(arr: str, d: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def arr_min(arr: str, d: str) -> str:
    return f"array_min({arr})" if d == SPARK else f"list_min({arr})"


def distinct_(arr: str, d: str) -> str:
    return f"array_distinct({arr})" if d == SPARK else f"list_distinct({arr})"


def intersect_(a: str, b: str, d: str) -> str:
    fn = "array_intersect" if d == SPARK else "list_intersect"
    return f"{fn}({a}, {b})"


def union_size(a: str, b: str, d: str) -> str:
    """|A ∪ B| for arrays that are already distinct."""
    if d == SPARK:
        return f"size(array_union({a}, {b}))"
    return f"len(list_distinct(list_concat({a}, {b})))"


def seq_incl(lo: str, hi: str, d: str) -> str:
    """Integer sequence lo..hi inclusive; EMPTY when hi < lo.

    Spark's ``sequence(a, b)`` runs *backwards* when b < a (sequence(1,
    0) is [1, 0], not []), so the Spark form clamps to an ascending
    sequence and slices it to max(hi-lo+1, 0) elements — slice with
    length 0 is the empty array. DuckDB's ``range`` is ascending-only
    and naturally empty.
    """
    if d == SPARK:
        return (
            f"slice(sequence({lo}, greatest({hi}, {lo})), 1,"
            f" greatest(({hi}) - ({lo}) + 1, 0))"
        )
    return f"range({lo}, ({hi}) + 1)"


def at(arr: str, i: str, d: str) -> str:
    """1-based element access."""
    return f"element_at({arr}, {i})" if d == SPARK else f"{arr}[{i}]"


def seq_step(lo: str, hi: str, step: int, d: str) -> str:
    """Integer sequence lo..hi inclusive with positive ``step``
    (requires hi >= lo; both dialects include hi when it lands on a
    step boundary)."""
    if d == SPARK:
        return f"sequence({lo}, {hi}, {step})"
    return f"range({lo}, ({hi}) + 1, {step})"


def idiv(a: str, b: str, d: str) -> str:
    """Integer (floor-toward-zero) division of non-negative operands."""
    op = "div" if d == SPARK else "//"
    return f"(({a}) {op} ({b}))"


def _dyadic_bits(alpha: float, max_bits: int = 8) -> list[int]:
    """Binary-expansion exponents of a dyadic rational α ∈ (0, 1]:
    α = Σ 2^(−k) over the returned ks. Raises if α doesn't terminate
    within ``max_bits`` bits — only exactly-representable exponents
    are allowed, because the whole point is cross-engine exactness."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    scaled = alpha * (1 << max_bits)
    if scaled != int(scaled):
        raise ValueError(
            f"alpha={alpha} is not dyadic within {max_bits} bits; "
            "pick k/2^n (e.g. 0.5, 0.75, 0.625)"
        )
    return [
        k for k in range(0, max_bits + 1)
        if (int(scaled) >> (max_bits - k)) & 1
    ]


def dyadic_pow(x: str, alpha: float, d: str) -> str:
    """x^α for dyadic α as a product of nested square roots —
    x^(1/2^k) factors per binary digit of α (x^0.75 =
    sqrt(x)·sqrt(sqrt(x))). ``sqrt`` is IEEE-754 correctly rounded in
    Java, DuckDB, and C, and multiplication likewise, so the SAME
    factor/multiply sequence yields bit-identical doubles in every
    engine — the only power function the oracle can trust (``pow()``
    is libm-bound; see ``dyadic_pow_py`` for the Python twin). α = 1
    passes x through."""
    _check(d)
    factors = []
    for k in _dyadic_bits(alpha):
        f = f"({x})"
        for _ in range(k):
            f = f"sqrt({f})"
        factors.append(f)
    return "(" + " * ".join(factors) + ")"


def dyadic_pow_py(x: float, alpha: float) -> float:
    """Python twin of ``dyadic_pow`` — the identical factor/multiply
    sequence via ``math.sqrt``, so driver-side rate math matches the
    SQL both engines run."""
    import math

    out = None
    for k in _dyadic_bits(alpha):
        f = x
        for _ in range(k):
            f = math.sqrt(f)
        out = f if out is None else out * f
    return out


def ilog2(x: str, d: str = SPARK, max_bits: int = 48) -> str:
    """floor(log2(x)) for an integer expression x ≥ 1, as a descending
    power-of-two CASE ladder — pure comparisons, so it is EXACT and
    dialect-identical (the only log the oracle discipline allows;
    real ``ln``/``log2`` are libm-bound and quarantined driver-side).
    Values ≥ 2^max_bits clamp to max_bits; values < 1 fall to 0."""
    _check(d)
    arms = " ".join(
        f"WHEN ({x}) >= {2 ** b} THEN {b}"
        for b in range(max_bits, 0, -1)
    )
    return f"(CASE {arms} ELSE 0 END)"


def ilog2_py(x: int, max_bits: int = 48) -> int:
    """Python twin of ``ilog2`` — same clamp semantics."""
    if x < 2:
        return 0
    return min(x.bit_length() - 1, max_bits)


def slice_(arr: str, start: str, n: int, d: str) -> str:
    """n elements from 1-based ``start``."""
    if d == SPARK:
        return f"slice({arr}, {start}, {n})"
    return f"list_slice({arr}, {start}, ({start}) + {n - 1})"


def join_str(arr: str, sep: str, d: str) -> str:
    if d == SPARK:
        return f"concat_ws('{sep}', {arr})"
    return f"array_to_string({arr}, '{sep}')"


def fold(arr: str, init: str, acc: str, x: str, body: str, d: str) -> str:
    """Left fold with explicit init; identical sequencing both dialects.

    DuckDB constraint: ``list_prepend(init, arr)`` needs init's type to
    match the element type — fold over a list of the accumulator's
    type (``transform_`` strings to numbers first)."""
    if d == SPARK:
        return f"aggregate({arr}, {init}, ({acc}, {x}) -> {body})"
    return f"list_reduce(list_prepend({init}, {arr}), ({acc}, {x}) -> {body})"


def round_dbl(expr: str, digits: int, d: str) -> str:
    """round() forced onto the DOUBLE path (DuckDB's decimal round
    would otherwise change the result type)."""
    _check(d)
    return f"round(CAST({expr} AS DOUBLE), {digits})"


# --- tokenization / shingling --------------------------------------------

def shingles(text_col: str, n: int, d: str) -> str:
    """Distinct n-token shingles (space-joined) of ``text_col``."""
    toks = split_ws(text_col, d)
    idx = seq_incl("1", f"{size_(toks, d)} - {n - 1}", d)
    sh = transform_(idx, "i", join_str(slice_(toks, "i", n, d), " ", d), d)
    return distinct_(sh, d)


# --- MinHash --------------------------------------------------------------

HASH_MOD = 1_000_000_007


def _affine_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_j(x) = (a_j·x + b_j) mod p — shared literals in both dialects."""
    params = []
    state = seed
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**63
        a = state % (HASH_MOD - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**63
        b = state % HASH_MOD
        params.append((a, b))
    return params


def base_hash_array(arr: str, d: str) -> str:
    """One 32-bit md5-derived integer per element — the expensive hash
    happens ONCE per element; the k-wise family is derived from it by
    cheap affine arithmetic (``minhash_sig``)."""
    return transform_(arr, "s", token_hash32("s", d), d)


def minhash_sig(base_hashes: str, num_hashes: int, d: str) -> str:
    """Array of ``num_hashes`` MinHash values over pre-hashed elements.

    Universal-hash family h_j(x) = (a_j·x + b_j) mod 1e9+7 over the
    32-bit base hash: one md5 per shingle total, then k integer
    min-reductions. Overflow-safe: a_j < 1e9+7, x < 2^32 ⇒ a_j·x <
    2^62. ``base_hashes`` should be a materialized column (compute via
    ``base_hash_array`` in its own projection) so it isn't re-expanded
    into each of the k reductions.
    """
    mins = ", ".join(
        arr_min(
            transform_(base_hashes, "h", f"(h * {a} + {b}) % {HASH_MOD}", d), d
        )
        for a, b in _affine_params(num_hashes)
    )
    return f"array({mins})" if d == SPARK else f"[{mins}]"


def band_key(sig: str, band: int, rows_per_band: int, d: str) -> str:
    """LSH band key: md5 of the band's ':'-delimited signature rows."""
    parts = ", ".join(
        f"CAST({at(sig, str(band * rows_per_band + r + 1), d)} AS STRING), ':'"
        for r in range(rows_per_band)
    )
    return f"md5(concat({parts}))"


def sig_agreement(sig_a: str, sig_b: str, num_hashes: int, d: str) -> str:
    """Estimated Jaccard: fraction of agreeing signature components."""
    idx = seq_incl("1", str(num_hashes), d)
    agree = size_(
        filter_(idx, "i", f"{at(sig_a, 'i', d)} = {at(sig_b, 'i', d)}", d), d
    )
    return f"{agree} / {float(num_hashes)}"


# --- SimHash --------------------------------------------------------------

def _nibble(h: str, hex_pos: int) -> str:
    """Value 0..15 of hex digit ``hex_pos`` (1-based) of hex string h —
    instr/substr arithmetic shared verbatim by both dialects."""
    return f"(instr('{HEX}', substr({h}, {hex_pos}, 1)) - 1)"


def token_hash_array(text_col: str, d: str) -> str:
    """One 32-bit integer hash per whitespace token (md5 once each);
    materialize this in its own projection, then feed
    ``simhash_from_hashes`` so the 32 bit-counts reuse it."""
    return transform_(split_ws(text_col, d), "t", token_hash32("t", d), d)


def simhash_from_hashes(hvals: str, d: str) -> str:
    """32-bit SimHash over pre-hashed tokens (term-frequency weighted).

    Classic scheme: each token votes ±1 on every bit of its 32-bit
    hash; bit b of the result is 1 iff the weighted vote is positive.
    Token repeats keep their multiplicity — that IS the tf weighting.
    Strict majority (ties → 0) keeps the expression engine-identical.

    Per bit b (pure integer arithmetic, no string ops):
      set_b = |{h ∈ hvals : floor(h / 2^b) odd}|  (counting repeats)
      vote_b = 2·set_b − n  >  0   ⇔   bit b = 1.
    """
    n = size_(hvals, d)
    terms = []
    for b in range(32):
        bit = f"CAST(floor(h / {2 ** b}) AS BIGINT) % 2 = 1"
        set_b = size_(filter_(hvals, "h", bit, d), d)
        terms.append(
            f"(CASE WHEN 2 * {set_b} > {n} THEN {2 ** b} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# --- token hashing / fingerprints ----------------------------------------

def token_hash32(var: str, d: str = SPARK) -> str:
    """BIGINT value of the first 8 hex digits of md5(var).

    This is the hot inner loop of every sketch (one evaluation per
    token/shingle over the whole corpus), so the Spark form uses the
    single builtin ``conv(hex, 16, 10)`` — measured ~10x cheaper than
    the 8-nibble ``instr``/``substr`` unroll it replaces, and it keeps
    the generated code small enough to stay inside one codegen method.
    DuckDB has no ``conv``; the oracle (only ever run at sf0.01) keeps
    the unrolled base-16 sum. Both produce the same BIGINT — pinned by
    the cross-dialect property tests."""
    if d == SPARK:
        return f"CAST(conv(substr(md5({var}), 1, 8), 16, 10) AS BIGINT)"
    terms = [
        f"CAST({_nibble(f'md5({var})', i + 1)} AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def split_assign(col: str, ratios: list[tuple[str, float]], d: str) -> str:
    """Deterministic train/val/test (or any named) split assignment as
    one CASE over the 32-bit content hash: bucket = hash32(col) and
    each split owns the half-open range up to floor(cum_ratio · 2^32)
    — exact integer thresholds computed HERE in Python, so both
    dialects compare the same BIGINT against the same literals and the
    assignment is reproducible across engines, runs, and partitionings
    (no rand(), no TABLESAMPLE). Hashing the CONTENT column makes the
    split leakage-safe by construction: byte-identical documents land
    in the same split however many ids carry them."""
    _check(d)
    total = sum(r for _, r in ratios)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split ratios must sum to 1, got {total}")
    if len(ratios) < 2:
        raise ValueError("need at least two splits")
    for name, _ in ratios:
        # names are spliced into SQL string literals in BOTH dialects
        if not name or not all(c.isalnum() or c == "_" for c in name):
            raise ValueError(
                f"split name {name!r} must be [A-Za-z0-9_]+ — it is "
                "spliced into SQL literals verbatim"
            )
    h = token_hash32(col, d)
    cum = 0.0
    arms = []
    for name, r in ratios[:-1]:
        cum += r
        arms.append(f"WHEN {h} < {int(cum * 2**32)} THEN '{name}'")
    return (
        "CASE " + " ".join(arms) + f" ELSE '{ratios[-1][0]}' END"
    )


FINGERPRINT_MOD = 1_000_000_007


def rolling_fingerprint(text_col: str, d: str) -> str:
    """Order-sensitive document fingerprint: left-fold polynomial hash
    acc = (acc*31 + hash32(token)) mod 1e9+7 over the token stream.

    Unlike the MinHash/SimHash set sketches this is sensitive to token
    ORDER — two docs with the same bag of words but different order
    fingerprint differently. Overflow-safe: acc < 1e9+7, token hash
    < 2^32, so acc*31 + h < 2^40 « 2^63.
    """
    toks = split_ws(text_col, d)
    hashes = transform_(toks, "t", token_hash32("t", d), d)
    body = f"(acc * 31 + x) % {FINGERPRINT_MOD}"
    return fold(hashes, "CAST(0 AS BIGINT)", "acc", "x", body, d)


# --- vector math ----------------------------------------------------------

def dot(a: str, b: str, d: str) -> str:
    """Σ aᵢ·bᵢ as an identical left fold in double precision.

    float→double is exact; products and the fold sequence are the same
    IEEE ops in both engines, so results are bitwise equal (no rounding
    tolerance needed downstream).
    """
    if d == SPARK:
        prods = (
            f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))"
        )
    else:
        idx = seq_incl("1", f"len({a})", d)
        prods = transform_(
            idx, "i", f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)", d
        )
    return fold(prods, "CAST(0 AS DOUBLE)", "acc", "x", "acc + x", d)


def cosine(a: str, b: str, d: str) -> str:
    return f"({dot(a, b, d)}) / sqrt(({dot(a, a, d)}) * ({dot(b, b, d)}))"


def l2sq(a: str, b: str, d: str) -> str:
    """Σ (aᵢ−bᵢ)² as an identical left fold in double precision —
    same bitwise-equality construction as ``dot``."""
    if d == SPARK:
        diffs = (
            f"zip_with({a}, {b}, (x, y) ->"
            f" (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
        )
    else:
        idx = seq_incl("1", f"len({a})", d)
        diffs = transform_(
            idx,
            "i",
            f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))",
            d,
        )
    return fold(diffs, "CAST(0 AS DOUBLE)", "acc", "x", "acc + x", d)


def vec_literal(values: list[float], d: str) -> str:
    """Exact double literals in both dialects — via STRING cast.

    A bare 17-digit decimal literal parses as DECIMAL first in both
    engines; DuckDB's wide-DECIMAL→DOUBLE conversion is NOT correctly
    rounded (measured: ~8% of full-precision doubles come back 1 ULP
    off — enough to flip a `dot > 0` hyperplane sign on a knife-edge
    vector). CAST('<repr>' AS DOUBLE) goes through strtod in both
    engines, which is correctly rounded, so the spliced planes are
    bit-identical across engines by construction."""
    body = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in values)
    return f"array({body})" if d == SPARK else f"[{body}]"


def hyperplane_bucket(vec: str, planes: list[list[float]], d: str) -> str:
    """Sign-random-projection LSH bucket id: bit p = (vec · plane_p) > 0.

    Planes are Python-side literals (seeded PRNG), spliced into both
    dialects — the "randomness" is shared by construction.
    """
    terms = [
        f"(CASE WHEN ({dot(vec, vec_literal(pl, d), d)}) > 0"
        f" THEN {2 ** p} ELSE 0 END)"
        for p, pl in enumerate(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS INT)"


# --- text heuristics ------------------------------------------------------

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. On real corpora these separate languages sharply; the
# synthetic testdata's five "languages" share one English-ish
# vocabulary, so predictions there collapse to the tie-break order —
# deterministic, oracle-checkable, and honest about the data.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "es": ("el", "los", "las", "una", "es", "y", "que"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans"),
    "zh": (),  # scored by CJK characters instead — see lang_scores
}

CJK_CLASS = "[一-鿿]"  # literal codepoint range: portable across Java/RE2


def lang_scores(text_col: str, d: str) -> dict[str, str]:
    toks = split_ws(text_col, d)
    scores: dict[str, str] = {}
    for lang, markers in LANG_MARKERS.items():
        if markers:
            inlist = ", ".join(f"'{m}'" for m in markers)
            scores[lang] = size_(filter_(toks, "t", f"t IN ({inlist})", d), d)
        else:
            scores[lang] = (
                f"size(regexp_extract_all({text_col}, '{CJK_CLASS}', 0))"
                if d == SPARK
                else f"len(regexp_extract_all({text_col}, '{CJK_CLASS}'))"
            )
    return scores


def lang_predict(score_cols: dict[str, str]) -> str:
    """CASE chain over per-language score columns; ties resolve to the
    earlier language in LANG_MARKERS order (dialect-identical)."""
    langs = list(LANG_MARKERS)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        others = langs[i + 1 :]
        cond = " AND ".join(
            f"{score_cols[lang]} >= {score_cols[o]}" for o in others
        )
        clauses.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# BPE-ish pre-tokenization: letter runs, digit runs, single other
# non-space glyphs — the shape GPT-style byte-pair pre-splitters use,
# restricted to constructs Java regex and RE2 share.
BPE_PATTERN = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"


def regexp_count(text_col: str, pattern: str, d: str) -> str:
    if d == SPARK:
        return f"size(regexp_extract_all({text_col}, '{pattern}', 0))"
    return f"len(regexp_extract_all({text_col}, '{pattern}'))"


# --- PII scrubbing --------------------------------------------------------
# Pretrain pipelines redact contact/identifier strings before training.
# Patterns stay inside the regex subset Java (Spark) and RE2 (DuckDB)
# both support — character classes only, no \d shorthands (backslash
# escaping differs between the two SQL string literal dialects), no
# lookaround (RE2 lacks it). Order matters: emails and IPs run before
# the phone pattern (both contain digit runs a phone pattern could
# claim), and the bare digit-run pattern runs LAST as the catch-all —
# earlier, more specific redactions must win before it sweeps up any
# remaining long numbers.

PII_PATTERNS: list[tuple[str, str]] = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
    ("[+][0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
    ("[0-9]{6,}", "<NUM>"),
]


def pii_scrub(text_col: str, d: str) -> str:
    """Nested regexp_replace chain redacting emails, IPv4s, phone
    numbers, and long digit runs. Spark's regexp_replace is global by
    default; DuckDB needs the 'g' flag."""
    _check(d)
    out = text_col
    for pattern, token in PII_PATTERNS:
        if d == SPARK:
            out = f"regexp_replace({out}, '{pattern}', '{token}')"
        else:
            out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


def pii_count(text_col: str, d: str) -> str:
    """Single-pass alternation match count — scan-side PII metric for
    corpus observability (no second pass over the scrubbed text).

    This is an APPROXIMATION of the number of replacements the
    sequential pii_scrub chain makes, not a guaranteed equality: scrub
    runs the patterns one after another, so a later pattern can match
    inside the residue of an earlier replacement (or be pre-empted by
    one) in ways a single alternation pass cannot reproduce. Both
    dialects compute the same alternation, so the metric itself is
    cross-engine exact."""
    _check(d)
    alternation = "|".join(p for p, _ in PII_PATTERNS)
    return regexp_count(text_col, alternation, d)


# --- Luhn-validated card-number detection ---------------------------------
# The bare digit-run PII pattern over-redacts: order ids, timestamps,
# and EAN codes are long digit runs too. Payment-card numbers carry a
# mod-10 check digit (Luhn 1960, US patent 2,950,048 — public domain),
# so a validating detector redacts ONLY runs whose checksum holds —
# the precision/recall trade every production PII pass makes. Pure
# integer expression work (substr + CASE + fold), engine-identical.

CC_RUN_PATTERN = "[0-9]{13,19}"


def luhn_sum(s: str, d: str) -> str:
    """Luhn checksum of a digit-string expression: from the RIGHT,
    double every second digit, subtract 9 from doubled digits above 9,
    sum. A valid card number has ``luhn_sum(s) % 10 = 0``."""
    _check(d)
    base = f"CAST(substr({s}, i, 1) AS BIGINT)"
    term = (
        f"(CASE WHEN (length({s}) - i) % 2 = 1"
        f" THEN (CASE WHEN 2 * {base} > 9 THEN 2 * {base} - 9"
        f" ELSE 2 * {base} END)"
        f" ELSE {base} END)"
    )
    arr = transform_(seq_incl("1", f"length({s})", d), "i", term, d)
    return fold(arr, "CAST(0 AS BIGINT)", "acc", "x", "acc + x", d)


def luhn_check_digit_py(base_digits: str) -> int:
    """Python twin of the check-digit derivation: the digit c making
    ``base_digits || c`` Luhn-valid (same doubling-from-the-right walk
    as ``luhn_sum`` with c occupying the rightmost slot)."""
    total = 0
    for pos, ch in enumerate(reversed(base_digits)):
        v = int(ch)
        if pos % 2 == 0:  # positions 2,4,… from the right once c lands
            v *= 2
            if v > 9:
                v -= 9
        total += v
    return (10 - total % 10) % 10


def cc_candidate_runs(text_col: str, d: str) -> str:
    """All 13-19 digit runs (the ISO/IEC 7812 PAN length range)."""
    _check(d)
    if d == SPARK:
        return f"regexp_extract_all({text_col}, '{CC_RUN_PATTERN}', 0)"
    return f"regexp_extract_all({text_col}, '{CC_RUN_PATTERN}')"


def cc_valid_runs(text_col: str, d: str) -> str:
    """Candidate runs that pass the Luhn check."""
    return filter_(
        cc_candidate_runs(text_col, d), "s",
        f"{luhn_sum('s', d)} % 10 = 0", d,
    )


def cc_scrub(text_col: str, d: str) -> str:
    """Replace every Luhn-VALID digit run with ``<CC>``, leaving
    checksum-failing runs (order ids, phone fragments) untouched —
    fold of global ``replace`` over the validated list, so repeated
    occurrences of the same number all redact."""
    return fold(
        cc_valid_runs(text_col, d), text_col,
        "acc", "x", "replace(acc, x, '<CC>')", d,
    )


def cc_count(text_col: str, d: str) -> str:
    """Number of Luhn-validated runs (extraction grain, pre-replace)."""
    return size_(cc_valid_runs(text_col, d), d)


# --- text normalization ---------------------------------------------------
# The standard CCNet/C4-style pre-clean every web-scraped corpus runs
# BEFORE line cleaning and quality scoring: mojibake repair, combining-
# mark recomposition, control-char strip, newline/whitespace
# canonicalization. Full Unicode NFC and full ftfy need ICU tables —
# not expressible as a bounded cross-engine SQL expression — so this is
# the deterministic bounded-table subset both engines compute
# identically: the COMMON cases (UTF-8-read-as-Latin-1 punctuation and
# accents; combining acute/grave/diaeresis/tilde over Latin vowels),
# with the contract that anything outside the tables passes through
# unchanged rather than being half-fixed.

# UTF-8 bytes of common punctuation/accents mis-decoded as Latin-1.
# All sequences are printable and quote-free (SQL-literal safe); the
# 3-char "â€x" sequences are mutually prefix-free so chain order
# within the table is immaterial.
MOJIBAKE_FIXES: list[tuple[str, str]] = [
    ("â€™", "’"),  # â€™ → right single quote
    ("â€œ", "“"),  # â€œ → left double quote
    ("â€“", "–"),  # â€“ → en dash
    ("â€”", "—"),  # â€” → em dash
    ("â€¦", "…"),  # â€¦ → ellipsis
    ("Ã©", "é"),        # Ã© → é
    ("Ã¨", "è"),        # Ã¨ → è
    ("Ã¼", "ü"),        # Ã¼ → ü
    ("Ã¶", "ö"),        # Ã¶ → ö
    ("Ã±", "ñ"),        # Ã± → ñ
]

# NFC-lite: recompose (base letter + combining mark) pairs into their
# precomposed forms for the Latin vowels/consonants real corpora carry.
# Escapes on purpose: decomposed and precomposed render identically,
# so literal characters would be one editor-normalization away from a
# silent identity table.
NFC_FIXES: list[tuple[str, str]] = [
    ("a\u0301", "\u00e1"), ("e\u0301", "\u00e9"), ("i\u0301", "\u00ed"),
    ("o\u0301", "\u00f3"), ("u\u0301", "\u00fa"),
    ("a\u0300", "\u00e0"), ("e\u0300", "\u00e8"),
    ("a\u0308", "\u00e4"), ("o\u0308", "\u00f6"), ("u\u0308", "\u00fc"),
    ("n\u0303", "\u00f1"),
]


def _regex_lit(pattern: str, d: str) -> str:
    """A regex containing backslashes as a SQL string literal: Spark's
    literal parser processes C-style escapes (``\\x`` must arrive as
    ``\\\\x`` in the query text); DuckDB literals are escape-inert."""
    body = pattern.replace("\\", "\\\\") if d == SPARK else pattern
    return f"'{body}'"


# C0 controls minus tab/LF/CR (tab dies in whitespace collapse, LF is
# document structure, CR canonicalizes to LF first), plus DEL.
_CTRL_CLASS = "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}]"


def normalize_text(text_col: str, d: str) -> str:
    """The pre-clean as ONE cross-engine expression chain, in fix-
    point-safe order: control strip FIRST — it is the only stage that
    DELETES characters and can therefore join two survivors into a new
    multi-char pattern (a C0 byte inside a mojibake pair: 'Ã\\x00©'
    → 'Ã©', the hypothesis-found idempotence break round 10 fixed) —
    then mojibake repair and combining-mark recomposition over the
    already-joined text, then CRLF/CR → LF, space/tab-run collapse,
    and an outer space trim. Safe because ``_CTRL_CLASS`` is C0-only
    while every mojibake/NFC sequence is printable latin-1: the strip
    cannot mangle a repair input. Downstream stages only REPLACE or
    COLLAPSE-to-space, so a second pass is the identity. Pure
    map-side scan work — the same zero-shuffle shape as
    ``pii_scrub``."""
    _check(d)
    out = text_col
    # DuckDB regexp_replace is first-match-only without the 'g' flag
    # (the pii_scrub lesson); Spark's is global by default
    g = "" if d == SPARK else ", 'g'"
    out = f"regexp_replace({out}, {_regex_lit(_CTRL_CLASS, d)}, ''{g})"
    for seq, rep in MOJIBAKE_FIXES + NFC_FIXES:
        out = f"replace({out}, '{seq}', '{rep}')"
    # newline canonicalization via chr() — no escape-sensitive literals
    out = f"replace({out}, chr(13) || chr(10), chr(10))"
    out = f"replace({out}, chr(13), chr(10))"
    ws_class = "[ \\x{09}]+"
    out = f"regexp_replace({out}, {_regex_lit(ws_class, d)}, ' '{g})"
    return f"trim({out})"


# --- repetition / boilerplate metrics -------------------------------------
# Gopher/MassiveText-style repetition filters: heavily self-repeating
# documents (boilerplate, scraped templates, degenerate generations)
# are low-value pretraining data. All three metrics are pure array
# expressions over the token stream — map-side, zero shuffle, same
# scan-fused shape as the quality heuristics they extend.


def token_ngrams(
    text_col: str, n: int, d: str, toks: str | None = None
) -> str:
    """Ordered, NON-distinct n-token grams (space-joined).

    Unlike ``shingles`` this keeps multiplicity and order — required
    by repetition metrics (a gram's repeat count IS the signal) and by
    LM scoring (every position is scored). Empty when the doc has
    fewer than ``n`` tokens (``seq_incl`` is empty-safe).

    ``toks``: optional expression (usually a materialized column) for
    the token array, replacing the internal split — higher-order
    functions stay outside whole-stage codegen, so Catalyst does NOT
    eliminate a repeated split subexpression across them; callers
    composing several token metrics should split once into a column
    and pass its name (measured 1.6× on the profile query)."""
    _check(d)
    toks = toks or split_ws(text_col, d)
    idx = seq_incl("1", f"{size_(toks, d)} - {n - 1}", d)
    return transform_(idx, "i", join_str(slice_(toks, "i", n, d), " ", d), d)


def repetition_exprs(
    text_col: str, d: str, toks: str | None = None
) -> dict[str, str]:
    """Per-doc repetition metrics, all rounded to 6 dp:

    - ``dup_bigram_frac`` / ``dup_trigram_frac``: fraction of n-gram
      positions occupied by a repeated n-gram (1 − distinct/total) —
      the Gopher duplicate-n-gram filter family.
    - ``adjacent_dup_frac``: fraction of adjacent token positions
      where token i+1 repeats token i — catches stutter loops that
      n-gram distinctness underweights.

    NULL (both dialects) when the doc is too short to have any n-gram
    of the given order — the honest value, not a fake 0.

    ``toks``: see ``token_ngrams`` — pass a materialized token-array
    column to avoid re-splitting per metric.
    """
    _check(d)
    out: dict[str, str] = {}
    for name, n in (("dup_bigram_frac", 2), ("dup_trigram_frac", 3)):
        grams = token_ngrams(text_col, n, d, toks=toks)
        total = size_(grams, d)
        dist = size_(distinct_(grams, d), d)
        frac = round_dbl(
            f"CAST(1 AS DOUBLE) - CAST({dist} AS DOUBLE) / {total}", 6, d
        )
        out[name] = f"(CASE WHEN {total} > 0 THEN {frac} ELSE NULL END)"
    toks = toks or split_ws(text_col, d)
    n_tok = size_(toks, d)
    idx = seq_incl("1", f"{n_tok} - 1", d)
    adj = size_(
        filter_(idx, "i", f"{at(toks, 'i', d)} = {at(toks, 'i + 1', d)}", d),
        d,
    )
    adj_frac = round_dbl(
        f"CAST({adj} AS DOUBLE) / ({n_tok} - 1)", 6, d
    )
    out["adjacent_dup_frac"] = (
        f"(CASE WHEN {n_tok} > 1 THEN {adj_frac} ELSE NULL END)"
    )
    return out


# --- signed feature hashing (late-interaction token vectors) ---------------
# Weinberger et al. 2009 "Feature Hashing for Large Scale Multitask
# Learning": each token contributes ±1 at n_hashes hashed positions of
# a dim-wide vector. Every step is integer arithmetic over the shared
# 32-bit base hash (one md5 per token), so both dialects — and the
# Python twin that builds QUERY-side vectors as spliced literals —
# produce bitwise-identical vectors by construction.

FEATURE_SEED = 23


def signed_feature_codes(hashes: str, n_hashes: int, dim: int, d: str) -> str:
    """Flat array of sign+position codes, n_hashes per input hash.

    Code e ∈ [0, 2·dim): position = e % dim, sign = +1 if e < dim
    else −1. Derived from the base hash by the affine family
    h_j(x) = (a_j·x + b_j) mod 1e9+7 (overflow-safe: a_j < 1e9+7,
    x < 2^32 ⇒ product < 2^62), then mod 2·dim. Materialize this in
    its own projection so the per-component folds of
    ``signed_feature_vec`` reuse it instead of re-running md5."""
    params = _affine_params(n_hashes, seed=FEATURE_SEED)
    codes = ", ".join(
        f"((h * {a} + {b}) % {HASH_MOD}) % {2 * dim}" for a, b in params
    )
    arr = f"array({codes})" if d == SPARK else f"[{codes}]"
    return f"flatten({transform_(hashes, 'h', arr, d)})"


def signed_feature_vec(codes: str, dim: int, d: str) -> str:
    """array<bigint>[dim] of signed counts from a code array: component
    j folds +1 for every code j and −1 for every code j+dim. One left
    fold per component — dim × |codes| integer CASEs, all map-side."""
    comps = []
    for j in range(dim):
        body = (
            f"acc + (CASE WHEN x = {j} THEN 1"
            f" WHEN x = {j + dim} THEN -1 ELSE 0 END)"
        )
        comps.append(fold(codes, "CAST(0 AS BIGINT)", "acc", "x", body, d))
    return (
        f"array({', '.join(comps)})" if d == SPARK
        else f"[{', '.join(comps)}]"
    )


def signed_feature_vec_py(token: str, n_hashes: int, dim: int) -> list[int]:
    """Python twin of codes→vector for driver-side (query) tokens —
    the exact integer arithmetic of the SQL builders, so spliced
    query-vector literals match engine-computed corpus vectors."""
    import hashlib as _hashlib

    h = int(_hashlib.md5(token.encode()).hexdigest()[:8], 16)
    v = [0] * dim
    for a, b in _affine_params(n_hashes, seed=FEATURE_SEED):
        e = ((h * a + b) % HASH_MOD) % (2 * dim)
        v[e % dim] += 1 if e < dim else -1
    return v
