"""The UDF surface (SURVEY.md §2C "UDF surface"): scalar pandas_udf,
grouped-aggregate pandas_udf, and the row-at-a-time python udf fallback.

These are the *sanctioned escape hatches* ranked by cost: built-in JVM
expressions first (everything else in relational/), Arrow-vectorized
pandas UDFs when numpy semantics are genuinely needed (~10-100x faster
than row-at-a-time), plain `udf` only as a last-resort compatibility shim.
The grouped-map carriers live with their operators: mapInArrow/applyInArrow
in operators/kernel_ops.py and operators/car.py, and llm/multimodal.py.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import PandasUDFType, pandas_udf, udf
from pyspark.sql.types import DoubleType, StringType

# NOTE: return types are DataType instances, not DDL strings — string types
# are parsed through the active SparkSession, which would make importing
# this module (and the whole query registry) fail before a session exists.


@pandas_udf(DoubleType())
def l2_norm(v: pd.Series) -> pd.Series:
    """Scalar pandas_udf: L2 norm of an array column, one Arrow batch at a
    time (each element arrives as a numpy array). NULL in -> NULL out,
    matching the paired DuckDB oracle (a NULL row must not kill the
    task)."""
    return v.map(
        lambda a: None if a is None else float(np.sqrt(np.dot(a, a))))


@pandas_udf(DoubleType())
def dot_product(a: pd.Series, b: pd.Series) -> pd.Series:
    """Scalar pandas_udf over two array columns. NULL in -> NULL out."""
    return pd.Series([None if x is None or y is None else float(np.dot(x, y))
                      for x, y in zip(a, b)])


@pandas_udf(DoubleType(), PandasUDFType.GROUPED_AGG)
def covar_pop_udaf(x: pd.Series, y: pd.Series) -> float:
    """Grouped-aggregate pandas_udf: population covariance of two numeric
    columns — the whole group arrives as one pair of Series and reduces to
    one scalar. (Used via groupBy().agg(); at scale each group must fit an
    executor, which holds here: groups are label partitions of dim pairs.)"""
    xv, yv = x.to_numpy(dtype=float), y.to_numpy(dtype=float)
    return float(((xv - xv.mean()) * (yv - yv.mean())).mean())


@udf(StringType())
def py_bucket_fallback(n_chars: int) -> str:
    """Row-at-a-time python udf — the compatibility fallback (documents the
    slow path; nothing in the engine's hot paths uses it)."""
    if n_chars is None:
        return None
    return "short" if n_chars < 200 else ("medium" if n_chars < 1000 else "long")
