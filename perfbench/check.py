"""Output checks for registry requests: an order-insensitive value hash.

Both sides reduce a ``pyarrow.Table`` to the same canonical form — columns
in name order, Decimal as float, timestamps as naive ISO strings with
microseconds, lists as tuples, rows sorted by ``repr`` — and hash it. The
expected side comes from the registry's DuckDB oracle over the same
generated Parquet; ids without an oracle are held to the row count and
schema of their first (warm-up) run.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from dataclasses import dataclass

import pyarrow as pa


def _canon(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


@dataclass(frozen=True)
class Expected:
    rows: int
    columns: tuple[str, ...]
    digest: str | None  # None: no oracle, rows + schema only
    schema: str = ""


def digest(tbl: pa.Table) -> str:
    names = sorted(tbl.column_names)
    cols = [[_canon(v) for v in tbl.column(n).to_pylist()] for n in names]
    rows = sorted(map(repr, zip(*cols))) if cols else []
    h = hashlib.sha256(repr(names).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def expect_oracle(tbl: pa.Table) -> Expected:
    return Expected(tbl.num_rows, tuple(sorted(tbl.column_names)), digest(tbl))


def expect_shape(tbl: pa.Table) -> Expected:
    return Expected(
        tbl.num_rows, tuple(sorted(tbl.column_names)), None, str(tbl.schema)
    )


def matches(exp: Expected, tbl: pa.Table) -> bool:
    if tbl.num_rows != exp.rows or tuple(sorted(tbl.column_names)) != exp.columns:
        return False
    if exp.digest is None:
        return str(tbl.schema) == exp.schema
    return digest(tbl) == exp.digest
