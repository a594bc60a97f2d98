"""Vector column builders for embedding similarity (array<float> columns).

All JVM-side (`F.aggregate` / `F.zip_with` higher-order functions) — no
Python in the hot path; Arrow/pandas variants only where genuinely faster.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quantize(a: Column, scale: int = 1000) -> Column:
    """Integer-quantized copy of a float vector (round(x*scale) as long).

    Integer dot/norm sums are order-independent and exact, making cosine
    bit-identical across engines (floats sum differently per fold order);
    ranking error vs float cosine is O(1/scale)."""
    return F.transform(a, lambda x: F.round(x * scale).cast("long"))


def quantize_sql(a: str, scale: int = 1000) -> str:
    # x widens to DOUBLE BEFORE the multiply, matching Spark's
    # float->double promotion: a FLOAT multiply re-rounds the product to
    # float32, where e.g. 0.3195f * 1000 lands EXACTLY on 319.5 and
    # rounds up while the double product 319.4999993 rounds down —
    # caught by the sf0.1 gate on embedding_near_dup/label_centroids
    # (the sf0.01 vectors never hit a float32 product ending in .5)
    return f"list_transform({a}, x -> round(x::DOUBLE * {scale})::BIGINT)"


def quantized_cosine(qa: Column, qb: Column) -> Column:
    d = F.aggregate(F.zip_with(qa, qb, lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.aggregate(qa, F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    nb = F.aggregate(qb, F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    return d / (F.sqrt(na) * F.sqrt(nb))


def _isqrt_core(p: Column) -> Column:
    """The exact isqrt ladder WITHOUT a domain guard — callers must
    have established 0 <= p < 2^62 already (isqrt_long / isqrt_prod)."""
    y0 = F.floor(F.sqrt(p.cast("double"))).cast("long")
    y = F.greatest(y0 - F.lit(2).cast("long"), F.lit(0).cast("long"))
    adj = None
    for j in (1, 2, 3, 4):
        step = F.when((y + j) * (y + j) <= p, 1).otherwise(0)
        adj = step if adj is None else adj + step
    return (y + adj).cast("long")


def isqrt_long(p: Column) -> Column:
    """floor(sqrt(p)) as an exact long column, 0 <= p < 2^62.

    Start from the double sqrt (at most +-2 off after the long->double
    conversion loses bits past 2^52), step down to a guaranteed lower
    bound, then count how many of the next 4 increments still square to
    <= p.  Every comparison is integer, so the result is identical on
    any engine with IEEE sqrt; see isqrt_sql for the DuckDB twin.

    Domain guard: beyond 2^62 the double sqrt error exceeds the +-2
    correction window and the result would be silently wrong (kmeans/
    PQ centroid SUM-vector norms grow with cluster population) — fail
    loudly instead of corrupting rankings."""
    bad = p >= F.lit(1 << 62).cast("long")
    return F.when(
        bad, F.raise_error(F.lit(
            "isqrt_long domain overflow: p >= 2^62 — rescale centroid "
            "sums (see kmeans_assignments docstring)")).cast("long")
    ).otherwise(_isqrt_core(p))


def isqrt_sql(p: str) -> str:
    """DuckDB rendering of isqrt_long; the single-element list_transform
    binds the (large) p expression once instead of inlining it 6x."""
    return (
        f"list_transform([{p}], __p -> "
        f"list_transform([greatest("
        f"cast(floor(sqrt(__p::DOUBLE)) as bigint) - 2, 0)], __y -> "
        f"__y + len(list_filter([1,2,3,4], "
        f"__j -> (__y+__j)*(__y+__j) <= __p)))[1])[1]")


def isqrt_prod(na: Column, nb: Column) -> Column:
    """isqrt(na * nb) for non-negative longs with a PRE-MULTIPLY
    overflow guard: the long product wraps silently at 2^63 and a
    wrapped (negative) p would slip past a post-multiply p >= 2^62
    check (sqrt(neg)->NaN->0 -> every cosine silently 0).

    One conditional total on the hot pair path (a nested
    isqrt_long-with-its-own-guard measured 26% on the ivf pair join at
    sf0.1): the double product estimate carries <= ~2^10 ULP error at
    the boundary, so the threshold sits 2^22 BELOW 2^62 — spurious
    raises in that sliver are loud and inside the documented domain
    bound, while no true overflow can be missed (error 2^10 << margin
    2^22), and everything below the threshold is safely in the exact
    core's domain."""
    bad = (na.cast("double") * nb.cast("double")
           >= F.lit(float((1 << 62) - (1 << 22))))
    return F.when(
        bad, F.raise_error(F.lit(
            "isqrt domain overflow: na*nb >= 2^62 — rescale centroid "
            "sums (see kmeans_assignments docstring)")).cast("long")
    ).otherwise(_isqrt_core(na * nb))


def trunc_div(num: Column, den: Column) -> Column:
    """Exact integral trunc(num/den) for den > 0 as a long Column.

    (num - num % den) is exactly divisible by den and both operands stay
    below 2^53 in every caller's domain, so the IEEE double quotient IS
    the integral quotient — no rounding enters.  Java % follows the
    dividend's sign, making the result truncation toward zero, matching
    DuckDB's integer `//` (pinned by test_trunc_div_semantics)."""
    return ((num - num % den) / den).cast("long")


def norm_sq(qa: Column) -> Column:
    """Exact long sum of squares of a quantized vector.  Hot-path
    consumers precompute this ONCE PER ROW before a pair join — inside
    quantized_cosine_e6 the norm aggregates sit under the isqrt
    correction tree and get re-evaluated per PAIR (measured 3.5x on the
    SemDeDup within-cluster join at sf0.1)."""
    return F.aggregate(qa, F.lit(0).cast("long"), lambda acc, v: acc + v * v)


def dot_long(qa: Column, qb: Column) -> Column:
    """Exact long dot product of two quantized vectors."""
    return F.aggregate(F.zip_with(qa, qb, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def quantized_cosine_e6_nn(qa: Column, qb: Column,
                           na: Column, nb: Column) -> Column:
    """quantized_cosine_e6 with the squared norms supplied as (cheap,
    usually precomputed-per-row) columns — identical integers, far
    fewer aggregate evaluations on pair joins."""
    s = isqrt_prod(na, nb)
    num = dot_long(qa, qb) * F.lit(1_000_000).cast("long")
    q = ((num - num % s) / s).cast("long")
    return F.when(s == 0, F.lit(0).cast("long")).otherwise(q)


def cosine_ge_threshold(qa: Column, qb: Column, na: Column, nb: Column,
                        thr_e6: int) -> Column:
    """Predicate equivalent to ``quantized_cosine_e6 >= thr_e6`` for
    thr_e6 >= 1, with NO division and the dot aggregate evaluated once:
    trunc(num/s) >= t  <=>  num >= t*s  (s > 0, integer t >= 1).  For
    s == 0 (a zero-quantized vector) the cosine is DEFINED as 0 < t, so
    the predicate must be false — but num >= t*s degenerates to 0 >= 0
    (true), hence the explicit s > 0 conjunct.  This is the hot shape
    for similarity FILTERS (near-dup, SemDeDup) — the full micro-cosine
    is only worth computing on surviving pairs."""
    if thr_e6 < 1:
        raise ValueError("cosine_ge_threshold requires thr_e6 >= 1")
    s = isqrt_prod(na, nb)
    return (s > F.lit(0).cast("long")) & \
        (dot_long(qa, qb) * F.lit(1_000_000).cast("long")
         >= F.lit(int(thr_e6)).cast("long") * s)


def quantized_cosine_e6(qa: Column, qb: Column) -> Column:
    """Micro-cosine of two integer-quantized vectors as an exact LONG:
    trunc((dot * 1e6) / isqrt(na * nb)).

    No double ever reaches the output or a ranking built on it: dot and
    the two squared norms are order-independent integer sums, the
    denominator is an exact integer sqrt (isqrt_long), and the final
    division is integer-exact — (num - num % s) is exactly divisible by
    s and both operands stay below 2^53 (requires dim * scale^2 *
    max|x|^2 * 1e6 < 2^53, i.e. dim <= ~4k at scale=1000 for unit-ish
    vectors), so the IEEE quotient IS the integral trunc quotient.
    Truncation (toward zero) matches DuckDB's integer `//`.

    Replaces the quantized_cosine + round(…, 6) idiom whose double
    HALF_UP rounding diverged between Spark and DuckDB on representable-
    boundary values (kmeans_topic_clusters driver red, rounds 5-6)."""
    d = F.aggregate(F.zip_with(qa, qb, lambda x, y: x * y),
                    F.lit(0).cast("long"), lambda acc, v: acc + v)
    na = F.aggregate(qa, F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    nb = F.aggregate(qb, F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    s = isqrt_prod(na, nb)
    num = d * F.lit(1_000_000).cast("long")
    q = ((num - num % s) / s).cast("long")
    return F.when(s == 0, F.lit(0).cast("long")).otherwise(q)


def quantized_cosine_e6_sql(qa: str, qb: str) -> str:
    """DuckDB twin of quantized_cosine_e6 (same integers; DuckDB
    list_sum yields HUGEINT, hence the BIGINT casts).

    Division-semantics-proof: `//` is applied only to a NON-NEGATIVE
    numerator (abs) with the sign reapplied outside, so the result is
    truncation toward zero on any DuckDB version regardless of whether
    its integer `//` truncates or floors — the driver gate may run a
    different DuckDB than the pinned local 1.0.0."""
    d = (f"(list_sum(list_transform(range(1, len({qa}) + 1), "
         f"i -> {qa}[i] * {qb}[i]))::BIGINT)")
    na = f"(list_sum(list_transform({qa}, x -> x * x))::BIGINT)"
    nb = f"(list_sum(list_transform({qb}, x -> x * x))::BIGINT)"
    s = isqrt_sql(f"{na} * {nb}")
    return (f"list_transform([{s}], __s -> "
            f"list_transform([{d} * 1000000], __n -> "
            f"CASE WHEN __s = 0 THEN 0 "
            f"WHEN __n >= 0 THEN __n // __s "
            f"ELSE -((-__n) // __s) END)[1])[1]")


def sign_bucket(a: Column, dims: int = 8) -> Column:
    """LSH-ish bucket key: sign bits of the first ``dims`` components.

    Deterministic and engine-portable (no random hyperplanes), so the
    bucketed ANN path is oracle-checkable; recall is partial by design —
    the scale path trades recall for a 2^dims candidate reduction."""
    acc = F.lit(0)
    for i in range(dims):
        acc = acc + F.when(F.element_at(a, i + 1) >= 0,
                           F.lit(1 << i)).otherwise(0)
    return acc


def sign_bucket_sql(a: str, dims: int = 8) -> str:
    pieces = [f"CASE WHEN {a}[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
              for i in range(dims)]
    return "(" + " + ".join(pieces) + ")"
