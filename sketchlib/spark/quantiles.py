"""Distributed quantile estimation via t-digest / KLL two-stage aggregation.

``approx_quantiles(df, value_col, probs, group_cols)`` — the sketch-native
equivalent of ``percentile_approx``: per-group sketch build (mapInArrow
partials, streaming), JVM collect_list merge, then one vectorized UDF turning
each group's blob into an ``array<double>`` of quantile estimates.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregate import sketch_agg
from .specs import TDigestSpec


def quantiles_col(spec, probs: Sequence[float],
                  sketch_col: str | Column = "sketch") -> Column:
    """array<double> of quantile estimates from a sketch-blob column."""
    probs = [float(p) for p in probs]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _q(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
            else:
                sk = spec.from_bytes(bytes(b))
                out.append(np.asarray(sk.quantile(np.asarray(probs)),
                                      dtype=np.float64).tolist())
        return pd.Series(out)

    return _q(sketch_col if isinstance(sketch_col, Column) else F.col(sketch_col))


def rank_col(spec, x: float, sketch_col: str | Column = "sketch") -> Column:
    """double column: approximate CDF at x per sketch blob."""

    @F.pandas_udf(T.DoubleType())
    def _r(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            out.append(None if b is None else float(spec.from_bytes(bytes(b)).rank(x)))
        return pd.Series(out)

    return _r(sketch_col if isinstance(sketch_col, Column) else F.col(sketch_col))


def approx_quantiles(df: DataFrame, value_col: str, probs: Sequence[float],
                     group_cols: Sequence[str] = (), spec=None,
                     result_name: str = "quantiles") -> DataFrame:
    """Per-group quantile estimates: (group_cols..., quantiles array<double>)."""
    spec = spec or TDigestSpec()
    merged = sketch_agg(df, value_col, group_cols, spec)
    return merged.select(*group_cols, quantiles_col(spec, probs).alias(result_name))
