"""Text-analysis column builders (pure pyspark.sql.functions — JVM-side,
whole-stage-codegen'd; no Python UDFs in these hot paths).

Each builder has a matching ANSI-SQL renderer used for the DuckDB oracle so
the exact same computation is checkable outside Spark.  Net-new surface vs
the reference (north-star LLM-pipeline operators; SURVEY §2.11 note).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column, functions as F

# deterministic small stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sie"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "dans"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "en", "un", "por"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text; empty text -> empty array."""
    t = F.lower(F.trim(col))
    return F.when(t == "", F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"\s+"))


def tokens_sql(c: str) -> str:
    return (f"CASE WHEN trim(lower({c})) = '' THEN []::VARCHAR[] "
            f"ELSE regexp_split_to_array(trim(lower({c})), '\\s+') END")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def token_count_sql(c: str) -> str:
    return f"len({tokens_sql(c)})"


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: split on whitespace AND word/number/symbol
    boundaries (a BPE-flavored regex, deterministic)."""
    pieces = F.regexp_replace(
        F.lower(F.trim(col)), r"([a-z]+|[0-9]+|[^a-z0-9\s]+)", r"$1 ")
    return token_count(pieces)


def bpe_ish_token_count_sql(c: str) -> str:
    inner = (f"regexp_replace(lower(trim({c})), "
             f"'([a-z]+|[0-9]+|[^a-z0-9\\s]+)', '\\1 ', 'g')")
    return f"len({tokens_sql(inner)})"


def ratio_e6(num: Column, den: Column) -> Column:
    """Exact micro-ratio trunc(num*1e6/den) as a LONG; 0 when den = 0.

    The engine-portable replacement for round(num/den, 6): a rational
    output lands EXACTLY on a 6-decimal tie whenever its denominator
    divides k*2*10^6 (e.g. top_word_frac on a 128-word doc with an odd
    top count is k*7812.5 micro-units), and Spark's BigDecimal HALF_UP
    disagrees with DuckDB's scaled std::round there — the same
    divergence that kept kmeans_topic_clusters driver-red for two
    rounds.  Alias of ratio_e6_dec — always the DECIMAL(38,0) path,
    exact for num < 10^31 (a long-arithmetic shortcut was tried and
    removed: the IEEE quotient mis-divides by 1 ulp once num*1e6 passes
    2^53, caught by the randomized cross-engine test).  DuckDB twin:
    HUGEINT `//` (trunc semantics pinned by test_trunc_div_semantics)."""
    return ratio_e6_dec(num, den)


def ratio_e6_sql(num: str, den: str) -> str:
    """Alias of ratio_e6_dec_sql — both tiers render the HUGEINT form
    (BIGINT * 1000000 overflows at num ~2^43, far below the helper's
    10^31 contract)."""
    return ratio_e6_dec_sql(num, den)


def ratio_e6_dec(num: Column, den: Column) -> Column:
    """ratio_e6 for numerators that can exceed 2^53/1e6 (e.g. a per-doc
    SUM of global vocabulary ranks): the scaled numerator widens to
    DECIMAL(38,0), the subtract-remainder trick keeps the division
    exact, and the exactly-divisible decimal quotient casts back to
    long.  DuckDB twin: HUGEINT `//` (ratio_e6_dec_sql)."""
    n6 = num.cast("decimal(38,0)") * F.lit(1_000_000).cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    q = ((n6 - n6 % d) / d).cast("long")
    return F.when(den == F.lit(0), F.lit(0).cast("long")).otherwise(q)


def ratio_e6_dec_sql(num: str, den: str) -> str:
    return (f"(CASE WHEN ({den}) = 0 THEN 0 ELSE "
            f"(({num})::HUGEINT * 1000000) // ({den})::HUGEINT END)::BIGINT")


def alpha_ratio_e6(col: Column) -> Column:
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    return ratio_e6(alpha, F.length(col))


def alpha_ratio_e6_sql(c: str) -> str:
    return ratio_e6_sql(
        f"length(regexp_replace({c}, '[^A-Za-z]', '', 'g'))",
        f"length({c})")


def stopword_ratio_e6(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.array_intersect(F.array_distinct(toks), sw))
    return ratio_e6(hits, F.size(F.array_distinct(toks)))


def stopword_ratio_e6_sql(c: str, lang: str = "en") -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    toks = tokens_sql(c)
    return ratio_e6_sql(
        f"len(list_intersect(list_distinct({toks}), [{words}]))",
        f"len(list_distinct({toks}))")


def quality_score_e6(col: Column) -> Column:
    """Deterministic quality heuristic in exact micro-units [0, 1e6]:
    length band + alphabetic ratio + stopword presence (the classic
    cheap pre-filters for LLM corpora).  Weights 0.4/0.4/0.2 become the
    integer blend (4*len + 4*alpha + 2*stop) div 10 — every term is an
    exact long, so the score is bit-identical on any engine."""
    n = F.length(col).cast("long")
    len_e6 = F.least(n * F.lit(2_000).cast("long"),
                     F.lit(1_000_000).cast("long"))
    total = (F.lit(4).cast("long") * len_e6
             + F.lit(4).cast("long") * alpha_ratio_e6(col)
             + F.lit(2).cast("long") * stopword_ratio_e6(col))
    return ((total - total % F.lit(10)) / 10).cast("long")


def quality_score_e6_sql(c: str) -> str:
    return (f"((4 * least(length({c})::BIGINT * 2000, 1000000) + "
            f"4 * {alpha_ratio_e6_sql(c)} + "
            f"2 * {stopword_ratio_e6_sql(c)}) // 10)::BIGINT")


def lang_id(col: Column) -> Column:
    """Stopword-hit language guesser with deterministic tie-break
    (earlier language in _LANG_ORDER wins ties)."""
    toks = F.array_distinct(tokens(col))
    scores = {
        lang: F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])))
        for lang in _LANG_ORDER}
    best = F.greatest(*[scores[lang] for lang in _LANG_ORDER])
    expr = F.lit("unknown")
    for lang in reversed(_LANG_ORDER):
        expr = F.when((best > 0) & (scores[lang] == best),
                      F.lit(lang)).otherwise(expr)
    return expr


def lang_id_sql(c: str) -> str:
    toks = f"list_distinct({tokens_sql(c)})"
    score = {}
    for lang in _LANG_ORDER:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score[lang] = f"len(list_intersect({toks}, [{words}]))"
    best = "greatest(" + ", ".join(score[l] for l in _LANG_ORDER) + ")"
    # CASE evaluates in order -> earlier langs win ties, matching lang_id()
    cases = " ".join(
        f"WHEN {score[l]} = {best} THEN '{l}'" for l in _LANG_ORDER)
    return f"CASE WHEN {best} = 0 THEN 'unknown' {cases} ELSE 'unknown' END"


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    t = F.lower(col)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def normalized_text_sql(c: str) -> str:
    return ("trim(regexp_replace(regexp_replace(lower(" + c + "), "
            "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))")


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(col))


def fingerprint_sql(c: str) -> str:
    return f"md5({normalized_text_sql(c)})"


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of the normalized text (shingles).

    Guarded: Spark's sequence(1, 0) would generate a DESCENDING [1, 0]
    sequence for short strings, so short inputs map to an empty array."""
    t = normalized_text(col)
    return F.when(F.length(t) < n, F.array().cast("array<string>")) \
        .otherwise(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length(t) - (n - 1)),
            lambda i: F.substring(t, i, n))))


def char_ngrams_sql(c: str, n: int = 3) -> str:
    t = normalized_text_sql(c)
    return (f"list_distinct(list_transform("
            f"range(1, greatest(length({t}) - {n - 1}, 0) + 1), "
            f"i -> substring({t}, i::INT, {n})))")


def minhash_signature(col: Column, num_hashes: int = 16, ngram: int = 3
                      ) -> List[Column]:
    """MinHash over character shingles using seeded md5 — portable (the
    DuckDB oracle computes the identical signature, unlike murmur/xxhash).
    Returns one min-hash column per seed."""
    grams = char_ngrams(col, ngram)
    out = []
    for seed in range(num_hashes):
        hashed = F.transform(grams, lambda g: F.md5(
            F.concat(F.lit(f"{seed}:"), g)))
        out.append(F.array_min(hashed))
    return out


def minhash_signature_sql(c: str, num_hashes: int = 16, ngram: int = 3
                          ) -> List[str]:
    grams = char_ngrams_sql(c, ngram)
    return [
        f"list_aggregate(list_transform({grams}, g -> md5('{seed}:' || g)), "
        f"'min')"
        for seed in range(num_hashes)]


def simhash16(col: Column, hex_offset: int = 12) -> Column:
    """16-bit SimHash over whitespace tokens.

    Per-token hash = integer value of 4 hex chars of md5 (16 bits) — chosen
    because both Spark (``conv``) and DuckDB (manual nibble sum) can compute
    it identically, keeping the operator oracle-checkable.  Different
    ``hex_offset`` values carve INDEPENDENT 16-bit hashes out of the same
    md5, composing into wider signatures (4 offsets -> a 64-bit SimHash,
    see simhash64_parts).  (An array-accumulator single-aggregate vote was
    tried: 7x faster codegen-cold but ~20x slower per row from per-token
    array allocation — per-row throughput wins at scale, so the per-bit
    votes stay.)
    """
    bits = 16
    # hash each token ONCE via a single transform(); the 16 bit-vote
    # aggregates below then run pure integer ops over the small int
    # array. Putting md5 inside each aggregate's lambda costs 16x the
    # hashing — Catalyst does not CSE across separate HOF lambdas.
    th = lambda g: F.conv(F.substring(F.md5(g), hex_offset, 4), 16, 10).cast("long")  # noqa: E731
    hashes = F.transform(tokens(col), th)

    def bit_vote(i: int):
        # separate scope (NOT a default arg: pyspark would read a 3-ary
        # lambda as a (acc, x, idx) merge function and bind i as a Column)
        return F.aggregate(
            hashes, F.lit(0).cast("long"),
            lambda a, h: a + F.when(
                h.bitwiseAND(F.lit(1 << i)) > 0, 1).otherwise(-1))

    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(bit_vote(i) > 0, F.lit(1 << i)).otherwise(0)
    return acc


def _hex4_to_int_sql(h: str) -> str:
    """DuckDB: integer value of a 4-hex-char string (no conv() there)."""
    nibbles = [
        f"(strpos('0123456789abcdef', substring({h}, {j + 1}, 1)) - 1)"
        f"::BIGINT * {1 << (4 * (3 - j))}"
        for j in range(4)]
    return "(" + " + ".join(nibbles) + ")"


def simhash16_sql(c: str, hex_offset: int = 12) -> str:
    bits = 16
    toks = tokens_sql(c)
    th = _hex4_to_int_sql(f"substring(md5(g), {hex_offset}, 4)")
    pieces = []
    for i in range(bits):
        vote = (f"list_sum(list_transform({toks}, g -> CASE WHEN "
                f"({th} & {1 << i}) > 0 THEN 1 ELSE -1 END))")
        pieces.append(
            f"CASE WHEN coalesce({vote}, 0) > 0 THEN {1 << i} ELSE 0 END")
    return "(" + " + ".join(pieces) + ")"


# offsets carving four independent 16-bit hashes out of one md5: a
# 64-bit SimHash signature as 4 parts, each also serving as a pigeonhole
# band for hamming<=3 blocking (simhash_near_dup_pairs)
SIMHASH64_OFFSETS = (1, 9, 17, 25)


def simhash64_parts(col: Column):
    """Four independent 16-bit SimHashes = a 64-bit signature."""
    return [simhash16(col, off) for off in SIMHASH64_OFFSETS]


def simhash64_parts_sql(c: str):
    return [simhash16_sql(c, off) for off in SIMHASH64_OFFSETS]
