"""ML feature transformers (reference §2.9 machine_learning family).

Re-expressed over native ``array<double>`` columns instead of MLlib's
``VectorUDT``: arrays are a first-class Spark SQL type — they survive
parquet round-trips, flow through Arrow pandas UDFs without conversion,
and every expression here stays inside whole-stage codegen. (The
reference wraps ``pyspark.ml`` Transformers, whose VectorUDT columns are
opaque to Catalyst and to Arrow.) ``to_ml_vector`` is provided at the
boundary for interop with pyspark.ml estimators.

Reference parity:
- one_hot_encode        <- transformers/spark/machine_learning/one_hot_encoding.py:117-135
- columns_to_vector     <- transformers/spark/machine_learning/columns_to_vector.py:71-86
- polynomial_expand     <- transformers/spark/machine_learning/polynomial_features.py:89-110
  (same monomial ordering as pyspark.ml.feature.PolynomialExpansion,
  verified in tests/test_ml.py against the MLlib implementation)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Largest vocabulary one_hot_encode infers on the driver: the probe collects
# at most this many values plus one, however many the column holds.
MAX_INFERRED_VALUES = 1024


def one_hot_encode(
    df: DataFrame, column: str, values: list | None = None
) -> DataFrame:
    """One-hot 0/1 indicator columns for each distinct value of `column`.

    Reference one_hot_encoding.py:117-135 loops `withColumn` per value —
    each call adds a nested Project node, and its `pre_transform_validation`
    runs TWO extra Spark jobs (`df.count()`, `distinct().collect()`) before
    any work. Here: at most one job (the distinct probe, only when `values`
    is not supplied, bounded by `MAX_INFERRED_VALUES` exactly like the
    bounded-vocab probes in operators/dedup.py — a larger vocabulary raises
    and must be passed as `values`), then ONE select with all indicator
    columns, which Catalyst keeps as a single projection.

    Column naming matches the reference: `{column}_{value}`, None -> "None".
    """
    if column not in df.columns:
        raise ValueError(f"Column '{column}' does not exist in the DataFrame.")
    if values is None:
        values = [
            r[0]
            for r in df.select(column).distinct().limit(MAX_INFERRED_VALUES + 1).collect()
        ]
        if not values:
            raise ValueError(f"No distinct values found in column '{column}'.")
        if len(values) > MAX_INFERRED_VALUES:
            raise ValueError(
                f"Column '{column}' has more than {MAX_INFERRED_VALUES} distinct "
                "values; pass the vocabulary explicitly as values=."
            )
    indicators = [
        F.when(F.col(column) == F.lit(v), 1)
        .otherwise(0)
        .alias(f"{column}_{v if v is not None else 'None'}")
        for v in values
    ]
    return df.select("*", *indicators)


def columns_to_vector(
    df: DataFrame,
    input_cols: list[str],
    output_col: str,
    override_col: bool = False,
) -> DataFrame:
    """Pack numeric columns into one array<double> feature column
    (reference columns_to_vector.py:71-86, VectorAssembler semantics:
    same values, same order; array instead of VectorUDT)."""
    if output_col in df.columns and not override_col:
        raise ValueError(
            f"Output column {output_col} already exists and override_col is False."
        )
    vec = F.array(*[F.col(c).cast("double") for c in input_cols]).alias(output_col)
    keep = [c for c in df.columns if c != output_col]
    return df.select(*keep, vec)


def poly_combos(n_features: int, degree: int) -> list[tuple[int, ...]]:
    """Monomial exponent tuples in pyspark.ml PolynomialExpansion order.

    MLlib's expansion for (x, y) at degree 2 is (x, x^2, y, xy, y^2): all
    monomials whose highest-index variable is j, ordered by j ascending,
    then by the power of x_j ascending, each multiplied by the (recursively
    ordered) monomials over x_0..x_{j-1} of the remaining degree. Verified
    bit-for-bit against pyspark.ml in tests/test_ml.py.
    """

    def upto(j: int, deg: int) -> list[tuple[int, ...]]:
        # monomials over features 0..j with total degree <= deg, including
        # the empty monomial, in expansion order
        if j < 0 or deg == 0:
            return [()]
        out: list[tuple[int, ...]] = [()]
        for m in monos(j, deg):
            out.append(m)
        return out

    def monos(j: int, deg: int) -> list[tuple[int, ...]]:
        # non-constant monomials over features 0..j with total degree <= deg
        out: list[tuple[int, ...]] = []
        if j > 0:
            out.extend(monos(j - 1, deg))
        for p in range(1, deg + 1):  # power of feature j
            for rest in upto(j - 1, deg - p):
                d = dict(rest)
                d[j] = p
                out.append(tuple(sorted(d.items())))
        return out

    raw = monos(n_features - 1, degree)
    # normalize: exponent vector per feature
    combos = []
    for m in raw:
        exp = [0] * n_features
        for idx, p in m:
            exp[idx] = p
        combos.append(tuple(exp))
    return combos


def polynomial_expand(
    df: DataFrame,
    input_col: str,
    output_col: str,
    degree: int,
    n_features: int,
    override_col: bool = False,
) -> DataFrame:
    """Polynomial feature expansion of an array<double> column
    (reference polynomial_features.py:89-110 / pyspark.ml
    PolynomialExpansion): same monomials, same order, as one JVM-side
    array expression — no VectorUDT, no Python.

    `n_features` is explicit (a fixed model dimension, like the reference's
    vector size) so the expression tree is built once on the driver; no
    per-row dimension sniffing.
    """
    if input_col not in df.columns:
        raise ValueError(f"Input column '{input_col}' does not exist.")
    if output_col in df.columns and not override_col:
        raise ValueError(
            f"Output column '{output_col}' already exists and override_col is False."
        )
    if degree < 1:
        raise ValueError("degree must be >= 1")

    def term(exp: tuple[int, ...]) -> Column:
        prod: Column | None = None
        for i, p in enumerate(exp):
            for _ in range(p):
                e = F.col(input_col)[i]
                prod = e if prod is None else prod * e
        return prod

    arr = F.array(*[term(e) for e in poly_combos(n_features, degree)])
    keep = [c for c in df.columns if c != output_col]
    return df.select(*keep, arr.alias(output_col))


def to_ml_vector(df: DataFrame, array_col: str, output_col: str) -> DataFrame:
    """Boundary interop: array<double> -> pyspark.ml dense vector for
    handing features to MLlib estimators."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(output_col, array_to_vector(F.col(array_col)))
