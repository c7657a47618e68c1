"""Embedding-vector expressions: dot/cosine JVM-side via higher-order fns.

For the similarity-search operators (ANN brute-force baseline + LSH bucket
scale path). ``F.zip_with`` + ``F.aggregate`` keep the arithmetic inside
Tungsten — no Python for the distance math.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_sim(a: Column, b: Column) -> Column:
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def fold_sum_sql(items: str) -> str:
    """DuckDB left-fold sum over a DOUBLE list expression — the exact
    arithmetic ORDER of Spark's ``F.aggregate(…, F.lit(0.0), acc + v)``,
    so the result is BIT-IDENTICAL to the JVM fold (verified to the last
    ulp in tests/test_dedup_ann.py). ``list_sum`` / ``list_cosine_similarity``
    may sum in a different order; same-to-6-decimals is not enough when a
    ranking window sits on top."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {items}), "
        f"(acc, v) -> acc + v)"
    )


def cosine_sim_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`cosine_sim` with the identical fold order:
    dot/(norm(a)*norm(b)), 0.0 when the denominator is 0. ``a``/``b`` are
    DOUBLE[] column expressions of equal length."""
    dot = fold_sum_sql(
        f"list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])"
    )
    na = f"sqrt({fold_sum_sql(f'list_transform({a}, x -> x * x)')})"
    nb = f"sqrt({fold_sum_sql(f'list_transform({b}, x -> x * x)')})"
    return (
        f"(CASE WHEN {na} * {nb} > 0 THEN ({dot}) / ({na} * {nb}) "
        f"ELSE 0.0 END)"
    )


# Deterministic multi-table plane seeds for the near-dup scale path:
# L=4 tables x K=8 hyperplanes. Shared by the Spark plan and its DuckDB
# twin (oracle_sql) so the bucket ids are engine-identical.
NEARDUP_LSH_SEEDS = [
    [round(0.5 + 0.37 * (t * 8 + k + 1), 4) for k in range(8)] for t in range(4)
]


def lsh_bucket_sql(vec: str, plane_seeds: list) -> str:
    """DuckDB twin of ``lsh_bucket`` over a DOUBLE[] column expression
    ``vec``: same sin-derived planes, and the projection uses the SAME
    left-fold order as Spark's F.aggregate (fold_sum_sql) so the sum is
    bit-identical — the sign decision can't flip even on a projection that
    lands exactly at 0 (a list_sum twin would only match to ulp)."""
    terms = []
    for k, seed in enumerate(plane_seeds):
        proj = fold_sum_sql(
            f"list_transform(generate_series(1, len({vec})), "
            f"i -> {vec}[i] * sin({float(seed)!r} * i))"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN 1::BIGINT ELSE 0::BIGINT END << {k})")
    return "(" + " | ".join(terms) + ")"


def lsh_bucket(a: Column, plane_seeds: list, scale: float = 1000.0) -> Column:
    """Random-hyperplane LSH bucket id (sign pattern over K deterministic
    pseudo-planes). Plane k weight for dim i = fractional hash of (seed, i),
    computed JVM-side via a deterministic transform of the element index.

    Cheap bucketing for the near-dup scale path: candidate pairs share a
    bucket; exact cosine refines inside the bucket."""
    bucket = F.lit(0).cast("long")
    for k, seed in enumerate(plane_seeds):
        # pseudo-random plane: w_i = sin(seed * (i+1)) — deterministic,
        # identical in any SQL engine with sin()
        proj = F.aggregate(
            F.zip_with(
                a,
                F.transform(F.sequence(F.lit(1), F.size(a)), lambda i: F.sin(F.lit(float(seed)) * i.cast("double"))),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(F.shiftleft(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), k))
    return bucket
