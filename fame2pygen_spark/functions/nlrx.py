"""NLRX — non-linear regression smoother via grouped-map pandas UDF.

The reference's NLRX is closed-source (``polars_econ``); its mock is a
no-op returning the input frame
(``/root/reference/fame2pygen/polars_econ_mock.py:42-60``), and the
generated code calls ``NLRX(pdf, λ, y, w1..w4, gss, gpr)`` rebinding the
whole frame (``fame2py_converter.py:511-524``).  We therefore publish
our own semantics:

    target = HP(y; λ) — the Hodrick–Prescott trend of the y series with
    smoothing parameter λ, computed over the rows where a weight window
    is active (any of w1..w4, gss, gpr non-null and non-zero; if no
    weight column restricts, the whole non-null span of y).

This is the one irreducibly procedural operator (a banded linear solve
per series), so it runs as ``applyInPandas`` — one Arrow batch per
entity group, numpy inside.  With ``entity_cols`` set, groups scale out
across executors; the reference-parity wide frame is a single group.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _hp_trend(y: np.ndarray, lamb: float) -> np.ndarray:
    """Hodrick–Prescott trend: solve (I + λ·DᵀD)·τ = y for the
    second-difference penalty matrix D."""
    n = len(y)
    if n < 3:
        return y.astype(float)
    eye = np.eye(n)
    d = np.diff(eye, 2, axis=0)  # (n-2, n) second-difference operator
    a = eye + lamb * d.T @ d
    return np.linalg.solve(a, y.astype(float))


def nlrx(
    df: DataFrame,
    lamb: float,
    y: str,
    weights: tuple[str, ...],
    out_col: str,
    *,
    date_col: str = "DATE",
    entity_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Append *out_col* = HP-smoothed *y* with parameter *lamb*."""
    lamb = float(lamb)
    # applyInPandas resolves each column via df[name], which parses dots
    # as struct access — temporarily rename dot-bearing columns (FAME
    # dot targets like RESULT.A are flat names)
    dotted = {c: c.replace(".", "__DOT__") for c in df.columns if "." in c}
    if dotted:
        df = df.select(
            *[F.col(f"`{c}`").alias(dotted.get(c, c)) for c in df.columns]
        )
        y = dotted.get(y, y)
        out_col = dotted.get(out_col, out_col)
        weights = tuple(dotted.get(w, w) for w in weights)
        result = nlrx(
            df, lamb, y, weights, out_col,
            date_col=dotted.get(date_col, date_col),
            entity_cols=tuple(dotted.get(e, e) for e in entity_cols),
        )
        back = {v: k for k, v in dotted.items()}
        if out_col in back or set(back) & set(result.columns):
            result = result.select(
                *[F.col(c).alias(back.get(c, c)) for c in result.columns]
            )
        return result

    schema_cols = df.schema.fieldNames()
    if out_col not in schema_cols:
        df = df.withColumn(out_col, F.lit(None).cast("double"))

    out_schema = df.schema
    weight_cols = [w for w in weights if w in schema_cols]

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(date_col).reset_index(drop=True)
        mask = pdf[y].notna()
        if weight_cols:
            active = pd.Series(False, index=pdf.index)
            for w in weight_cols:
                vals = pdf[w]
                active |= vals.notna() & (vals != 0)
            if active.any():
                mask &= active
        result = pd.Series(np.nan, index=pdf.index, dtype=float)
        idx = pdf.index[mask]
        if len(idx) >= 1:
            result.loc[idx] = _hp_trend(pdf.loc[idx, y].to_numpy(), lamb)
        pdf[out_col] = result
        return pdf

    if entity_cols:
        grouped = df.groupBy(*entity_cols)
    else:
        # reference-parity single wide frame → one group; fine at the
        # reference's 10^2–10^4-row scale, use entity_cols to scale out
        grouped = df.groupBy(F.lit(1).alias("__g"))

    return grouped.applyInPandas(smooth, schema=out_schema)
