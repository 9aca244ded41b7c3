"""Column-type inference and pandas <-> model-code conversion.

Maps Spark types onto the reference's three column families
(__init__.py:477-605 `_split_types`): numeric stays numeric, boolean
becomes a 2-level categorical [False, True], strings become categoricals
(levels frozen at fit), and timestamps become numeric seconds shifted by
``min - 1`` so the log-transform path works (reference __init__.py:576-596).
Ordinal columns are opt-in via ``ordinal_cols`` with explicit level order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .operators.fit import FitColumn

NUMERIC_SPARK_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double", "decimal",
}


def infer_kinds(spark_dtypes: list[tuple[str, str]],
                ordinal_cols: dict[str, list] | None = None,
                cols_ignore: set[str] | None = None) -> dict[str, str]:
    """column name -> numeric | categorical | ordinal | timestamp | drop."""
    ordinal_cols = ordinal_cols or {}
    cols_ignore = cols_ignore or set()
    kinds = {}
    for name, dt in spark_dtypes:
        base = dt.split("(")[0].lower()
        if name in cols_ignore:
            kinds[name] = "drop"
        elif name in ordinal_cols:
            kinds[name] = "ordinal"
        elif base in NUMERIC_SPARK_TYPES:
            kinds[name] = "numeric"
        elif base == "boolean":
            kinds[name] = "categorical"
        elif base == "string":
            kinds[name] = "categorical"
        elif base in ("timestamp", "timestamp_ntz", "date"):
            kinds[name] = "timestamp"
        else:
            kinds[name] = "drop"  # binary / nested types are not targets
    return kinds


def epoch_seconds(s: pd.Series) -> np.ndarray:
    """Float64 seconds since the epoch of a timestamp or date column, NaN
    where ``s`` is missing: int64 nanoseconds to float64, divided by 1e9.

    A datetime64 column (naive or tz-aware) is read as it is:
    ``pd.to_datetime`` returns it unchanged, but first turns up to 500 of
    its values into ``Timestamp`` objects to decide whether to cache, on
    every batch.  A ``DateType`` column arrives as ``datetime.date``
    objects and is converted."""
    ts = s if pd.api.types.is_datetime64_any_dtype(s.dtype) else pd.to_datetime(s)
    vals = ts.astype("int64").to_numpy().astype(np.float64) / 1e9
    vals[s.isna().to_numpy()] = np.nan
    return vals


def pandas_to_fit_columns(pdf: pd.DataFrame, kinds: dict[str, str],
                          ordinal_cols: dict[str, list] | None = None,
                          max_categ: int = 1000) -> list[FitColumn]:
    """Encode a fit sample into FitColumn arrays (levels frozen here)."""
    ordinal_cols = ordinal_cols or {}
    cols: list[FitColumn] = []
    for name in pdf.columns:
        kind = kinds.get(name, "drop")
        s = pdf[name]
        if kind == "numeric":
            cols.append(FitColumn(name, "numeric",
                                  s.astype(np.float64).to_numpy()))
        elif kind == "timestamp":
            vals = epoch_seconds(s)
            finite = vals[~np.isnan(vals)]
            if finite.shape[0] == 0:
                continue
            ts_min = float(finite.min()) - 1.0
            cols.append(FitColumn(name, "numeric", vals - ts_min,
                                  is_ts=True, ts_min=ts_min))
        elif kind == "ordinal":
            levels = list(ordinal_cols[name])
            lut = {lev: i for i, lev in enumerate(levels)}
            codes = np.array([lut.get(v, -1) if v is not None and v == v else -1
                              for v in s], dtype=np.int64)
            if len(levels) < 3:
                raise ValueError(f"ordinal column {name!r} needs >= 3 levels")
            cols.append(FitColumn(name, "ordinal", codes, levels=levels))
        elif kind == "categorical":
            is_bool = s.dtype == bool or str(s.dtype) == "boolean"
            if is_bool:
                levels = [False, True]
                codes = np.full(len(s), -1, dtype=np.int64)
                notna = s.notna().to_numpy()
                codes[notna] = s[notna].astype(bool).to_numpy().astype(np.int64)
            else:
                fac, uniques = pd.factorize(s, use_na_sentinel=True)
                levels = list(uniques)
                if len(levels) > max_categ:
                    continue  # high-cardinality strings are not sane targets
                codes = fac.astype(np.int64)
            cols.append(FitColumn(name, "categorical", codes,
                                  levels=levels, is_bool=is_bool))
    return cols


def pandas_to_predict_arrays(pdf: pd.DataFrame, model: dict) -> dict[str, np.ndarray]:
    """Encode a prediction batch against the frozen model schema."""
    meta = model["schema"]
    out: dict[str, np.ndarray] = {}
    for name, info in meta.items():
        if name not in pdf.columns:
            continue
        s = pdf[name]
        kind = info["kind"]
        if kind == "numeric":
            out[name] = s.astype(np.float64).to_numpy()
        elif kind == "timestamp":
            out[name] = epoch_seconds(s) - info["ts_min"]
        else:
            levels = info["levels"]
            lut = {lev: i for i, lev in enumerate(levels)}
            ncat = len(levels)
            if info.get("is_bool"):
                codes = np.full(len(s), -1, dtype=np.int64)
                notna = s.notna().to_numpy()
                codes[notna] = s[notna].astype(bool).to_numpy().astype(np.int64)
            else:
                # vectorized encode: pandas map is C-speed; NA -> -1,
                # unseen -> ncat (reference encoding, __init__.py:614-630)
                isna = s.isna().to_numpy()
                mapped = s.map(lut)
                codes = mapped.fillna(ncat).to_numpy(dtype=np.int64, na_value=ncat)
                codes[isna] = -1
            out[name] = codes
    return out


def build_model_schema(cols: list[FitColumn]) -> dict:
    """Frozen fit-time schema stored on the model for re-encoding new data."""
    schema = {}
    for c in cols:
        schema[c.name] = {
            "kind": "timestamp" if c.is_ts else c.kind,
            "levels": c.levels,
            "is_bool": c.is_bool,
            "ts_min": c.ts_min,
        }
    return schema
