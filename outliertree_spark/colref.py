"""Backtick-safe references to USER data columns.

R-exported frames (the reference's home turf — e.g. the bundled
hypothyroid data with ``query.hyperthyroid``) carry dots in column
names, which bare ``F.col``/``df.select`` would misread as struct-field
access.  Every place the engine references a column whose name came
from user data goes through :func:`qcol`; internal columns we name
ourselves stay on plain ``F.col``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def qname(name: str) -> str:
    """Backtick-quote a column name (doubling embedded backticks)."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str) -> Column:
    """Column reference that treats ``name`` literally (dots, spaces and
    backticks included), never as a nested-field path."""
    return F.col(qname(name))


def ts_seconds(name: str, ts_min: float) -> Column:
    """A timestamp or date column in the model's shifted-seconds space,
    bit for bit as the Python worker encodes it
    (``schema.epoch_seconds``: int64 nanoseconds to float64,
    divided by 1e9, minus ``ts_min``), sub-second part included."""
    ns = F.unix_micros(qcol(name).cast("timestamp")) * 1000
    return ns.cast("double") / F.lit(1e9) - F.lit(ts_min)
