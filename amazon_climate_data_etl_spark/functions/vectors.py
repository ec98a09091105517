"""Vector (embedding) column expressions over ``array<float>`` columns.

Built on ``F.zip_with`` / ``F.aggregate`` higher-order functions: the math
runs JVM-side per-row with no shuffle and no Python. All accumulation is in
DOUBLE for cross-engine numeric stability (the storage type is float32).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
    # NOTE: unrolling the fold into an explicit a[1]*b[1] + … + a[64]*b[64]
    # chain was measured ~2× SLOWER than the HOF fold on the pair stream —
    # 64 element_at calls (each with null+bounds branches) blow past the
    # codegen method-size limit and fall back to interpreted eval. Keep the
    # fold; fix pair-stream cost with parallelism, not expression shape.


def sign_bucket(a: Column | str, dims: tuple[int, ...] = (1, 2, 3, 4)) -> Column:
    """Deterministic LSH-style bucket id from the signs of selected dims.

    A random-hyperplane LSH with axis-aligned planes: partitions the space
    into 2^len(dims) buckets. Used to restrict ANN candidate generation to
    same-bucket pairs (operators/similarity.py). ``dims`` are 1-based to
    match SQL array indexing. Out-of-range dims hash to bit 0 in BOTH
    engines (try_element_at → NULL → the otherwise branch here; DuckDB's
    list index → NULL → CASE else), so short vectors bucket consistently.

    Pass the column NAME (string) on hot build paths: the expression then
    assembles through ONE ``F.expr`` parse instead of ~40 py4j
    round-trips per call — the LSH probe-key builder constructs 18 of
    these, and the Column-op form cost ~45 ms each of pure driver
    latency (1.3 s of ann_recall_eval's wall). Identical Catalyst tree
    either way."""
    if isinstance(a, str):
        return F.expr(sign_bucket_spark_sql(a, dims))
    out = F.lit(0)
    for i, d in enumerate(dims):
        bit = F.when(F.try_element_at(a, F.lit(d)) >= 0, F.lit(1)).otherwise(F.lit(0))
        out = out + bit * F.lit(2**i)
    return out


def sign_bucket_spark_sql(a: str, dims: tuple[int, ...] = (1, 2, 3, 4)) -> str:
    """Spark-SQL text of ``sign_bucket`` — for callers that assemble a
    LARGER expression (an array of per-table key structs) through one
    ``F.expr`` parse instead of per-struct Column ops; same Catalyst
    tree, no per-call py4j round-trips."""
    terms = " + ".join(
        f"(CASE WHEN try_element_at({a}, {d}) >= 0 THEN 1 ELSE 0 END)"
        f" * {2 ** i}"
        for i, d in enumerate(dims)
    )
    return f"({terms})"


def sign_bucket_sql(a: str, dims: tuple[int, ...] = (1, 2, 3, 4)) -> str:
    terms = [
        f"(CASE WHEN {a}[{d}] >= 0 THEN 1 ELSE 0 END) * {2**i}"
        for i, d in enumerate(dims)
    ]
    return "(" + " + ".join(terms) + ")"
