"""Answer checks shared by the DSL workloads.

A result passes when it has the oracle's columns and the same multiset
of rows: strings and dates compare exactly, numbers within
``rel 1e-9`` / ``abs 1e-6`` (engines sum doubles in different orders,
so the last bits may differ; any real error is far larger).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-6


def _normalize_col(s: pd.Series) -> pd.Series:
    """Numbers as float64 (NaN for NULL); dates as ISO text; other
    values as text (NULL as None)."""
    if pd.api.types.is_bool_dtype(s):
        return s.astype(str)
    if pd.api.types.is_numeric_dtype(s):
        return s.astype("float64")
    if pd.api.types.is_datetime64_any_dtype(s):
        midnight = bool((s.dropna() == s.dropna().dt.normalize()).all())
        fmt = "%Y-%m-%d" if midnight else "%Y-%m-%d %H:%M:%S"
        return s.dt.strftime(fmt).where(s.notna(), None)
    num = pd.to_numeric(s, errors="coerce")
    if num.notna().sum() == s.notna().sum():
        return num.astype("float64")
    return s.astype(str).where(s.notna(), None)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, values normalized, rows sorted by every
    column (numbers rounded to 6 places for the sort key only)."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    out = pd.DataFrame({c: _normalize_col(df[c]) for c in df.columns})
    if len(out):
        keys = pd.DataFrame({
            c: (out[c].round(6) if out[c].dtype == "float64"
                else out[c].fillna("\x00"))
            for c in out.columns})
        order = keys.sort_values(by=list(keys.columns),
                                 kind="mergesort").index
        out = out.loc[order].reset_index(drop=True)
    return out


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when ``got`` matches ``want``, else why it does not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype == "float64" and b.dtype == "float64":
            av, bv = a.to_numpy(), b.to_numpy()
            same = np.isclose(av, bv, rtol=REL_TOL, atol=ABS_TOL) | (
                np.isnan(av) & np.isnan(bv))
            if not same.all():
                i = int(np.argmin(same))
                return f"column {c} row {i}: {av[i]!r} != {bv[i]!r}"
        elif a.dtype == "float64" or b.dtype == "float64":
            # One side numeric, the other not: equal only when both are
            # entirely NULL (e.g. an all-NULL column read back from CSV).
            if a.notna().any() or b.notna().any():
                return f"column {c}: types differ ({a.dtype} vs {b.dtype})"
        else:
            same = (a.fillna("\x00").to_numpy() == b.fillna("\x00").to_numpy())
            if not same.all():
                i = int(np.argmin(same))
                return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None
