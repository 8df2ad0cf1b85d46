"""Cross-engine result comparison, mimicking the driver's
order-insensitive sorted-column value compare: the column set and each
column's pandas dtype must match before the values are compared (the
driver's value hash tells 36 from 36.0)."""

from __future__ import annotations

import decimal
import math

import pandas as pd


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 6) + 0.0  # +0.0 folds -0.0 into 0.0 (str-sort vs == divergence)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6) + 0.0
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
        return _canon_cell(v) if isinstance(v, (float, decimal.Decimal)) else v
    return v


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def assert_same(spark_df, duck_df: pd.DataFrame, name: str = "") -> None:
    sp = spark_df.toPandas()
    cols = sorted(sp.columns)
    assert cols == sorted(duck_df.columns), (
        f"{name}: columns {cols} vs oracle {sorted(duck_df.columns)}"
    )
    dtypes = {
        c: (str(sp[c].dtype), str(duck_df[c].dtype))
        for c in cols
        if str(sp[c].dtype) != str(duck_df[c].dtype)
    }
    assert not dtypes, f"{name}: dtype (spark, oracle) {dtypes}"
    s = canon(sp)
    d = canon(duck_df)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs oracle {len(d)}"
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mismatches, f"{name}: first mismatch {mismatches[0]}"
