"""Result comparison for the benchmark's correctness checks.

A first occurrence of each op shape is checked against an independent
oracle (DuckDB SQL or NumPy) with a tight float tolerance; every repeat
must then equal that checked result exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd

RTOL = 1e-9


class Mismatch(AssertionError):
    pass


def _is_float(s: pd.Series) -> bool:
    return pd.api.types.is_float_dtype(s.dtype)


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame, exact: bool) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if _is_float(x) or _is_float(y):
            xf = x.to_numpy(dtype="float64", na_value=np.nan)
            yf = y.to_numpy(dtype="float64", na_value=np.nan)
            if exact:
                ok = np.array_equal(xf, yf, equal_nan=True)
            else:
                ok = np.allclose(xf, yf, rtol=RTOL, atol=0.0, equal_nan=True)
        else:
            ok = x.astype(object).where(x.notna(), None).tolist() == (
                y.astype(object).where(y.notna(), None).tolist()
            )
        if not ok:
            return False
    return True


def same(got, want, exact: bool) -> bool:
    """``got`` equals ``want`` (ndarray or DataFrame); ``exact`` compares
    floats bit-for-bit (NaN equal to NaN), else within ``RTOL``."""
    if isinstance(want, np.ndarray):
        if not isinstance(got, np.ndarray) or got.shape != want.shape:
            return False
        if exact:
            return np.array_equal(got, want, equal_nan=True)
        return np.allclose(got, want, rtol=RTOL, atol=0.0, equal_nan=True)
    if not isinstance(got, pd.DataFrame):
        return False
    if set(got.columns) == set(want.columns):
        want = want[list(got.columns)]
    return _frames_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), exact
    )


def expect(got, want) -> None:
    """Oracle check of a first occurrence."""
    if not same(got, want, exact=False):
        raise Mismatch(f"result differs from the oracle:\n{got}\n!=\n{want}")


def sorted_frame(pdf: pd.DataFrame, keys) -> pd.DataFrame:
    return pdf.sort_values(list(keys), kind="stable").reset_index(drop=True)


def dense(pdf: pd.DataFrame, group_cols, id_cols, value_col) -> np.ndarray:
    """Oracle rows (one per group × bin, as the dense spine emits them)
    reshaped like ``HistogramResult.to_numpy``: (groups…, bins…)."""
    keys = list(group_cols) + list(id_cols)
    pdf = sorted_frame(pdf, keys)
    shape = tuple(pdf[k].nunique(dropna=False) for k in keys)
    return pdf[value_col].to_numpy(dtype="float64").reshape(shape)
