"""Order-insensitive result comparison: same column set, same row
count, same multiset of rows. The references compute the same
arithmetic as the engine, so floats must agree to rounding error."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _normalise(col: pd.Series) -> pd.Series:
    """Timestamps -> epoch ms, numbers -> float, everything else ->
    its string form; nulls -> NaN (numbers) or a sentinel (strings)."""
    if pd.api.types.is_datetime64_any_dtype(col):
        if getattr(col.dt, "tz", None) is not None:
            col = col.dt.tz_convert("UTC").dt.tz_localize(None)
        ms = col.astype("datetime64[ms]").astype("int64").astype("float64")
        return ms.where(col.notna(), np.nan)
    if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
        return col.astype("float64")
    first = col.dropna().head(1)
    if len(first) and (isinstance(first.iloc[0], (int, float, np.number))
                       or type(first.iloc[0]).__name__ == "Decimal"):
        return pd.to_numeric(col, errors="coerce").astype("float64")
    return col.astype(object).where(col.notna(), "\x00null").astype(str)


def _canonical(frame: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(frame.columns)
    out = pd.DataFrame({c: _normalise(frame[c].reset_index(drop=True)) for c in cols})
    keys = {c: out[c].round(6) if out[c].dtype == "float64" else out[c] for c in cols}
    order = pd.DataFrame(keys).sort_values(by=cols, na_position="first", kind="mergesort").index
    return out.loc[order].reset_index(drop=True)


class Canonical:
    """A reference frame canonicalised once, for comparing many results."""

    def __init__(self, frame: pd.DataFrame):
        self.columns = list(frame.columns)
        self.frame = _canonical(frame)

    def __len__(self):
        return len(self.frame)


def same_result(got: pd.DataFrame, want) -> tuple[bool, str]:
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    g = _canonical(got)
    w = want.frame if isinstance(want, Canonical) else _canonical(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype == "float64" and b.dtype == "float64":
            ok = np.isclose(a.to_numpy(), b.to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (a.astype(str) == b.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return False, f"column {c!r} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return True, ""
