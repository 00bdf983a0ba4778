"""Output checks, run after the timed region.

- Registry rows: the rows a pass returned are compared, as an
  order-insensitive multiset with columns sorted by name, against the
  row's DuckDB oracle over the same parquet inputs (the same comparison as
  the test suite's oracle helper, with DECIMAL read as float).
- Trained artifacts: retrained from a cold cache, the artifact must have
  the same digest as every pass's, and it must hold at least one value.
- Star sinks: every sink must hold, per table, the row count and
  natural-key checksum of the batch build (``plans.star_ops._rollup``'s
  checksum form, computed in Python here).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
from collections import Counter

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
_CHECK_MOD = 1_000_000_007


def _canon(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _multiset(cols: list[str], rows) -> tuple[list[str], Counter]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), Counter(tuple(_canon(r[i]) for i in order) for r in rows)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return cols, list(zip(*data)) if cols else []


def oracle_mismatch(arrow_table, oracle_sql: str, sf_dir: str) -> str | None:
    """None when the Spark rows equal the oracle's rows, else a reason."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(oracle_sql)
        d_cols = [d[0] for d in cur.description]
        d_rows = cur.fetchall()
    finally:
        con.close()
    s_cols, s_rows = arrow_rows(arrow_table)
    sc, s_set = _multiset(s_cols, s_rows)
    dc, d_set = _multiset(d_cols, d_rows)
    if sc != dc:
        return f"columns differ: spark={sc} oracle={dc}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} oracle={len(d_rows)}"
    if s_set != d_set:
        return f"values differ, e.g. {list((s_set - d_set).items())[:2]}"
    return None


def digest(obj) -> str:
    """Stable digest of a trained artifact (tuples, dicts, numpy arrays,
    scalars, Spark rows)."""
    h = hashlib.sha256()

    def feed(x):
        if hasattr(x, "tobytes") and hasattr(x, "dtype"):
            h.update(f"nd{x.dtype}{getattr(x, 'shape', ())}".encode())
            h.update(x.tobytes())
        elif isinstance(x, dict):
            h.update(b"{")
            for k in sorted(x, key=repr):
                feed(k)
                feed(x[k])
            h.update(b"}")
        elif isinstance(x, (list, tuple, set, frozenset)):
            h.update(b"[")
            for y in (sorted(x, key=repr) if isinstance(x, (set, frozenset)) else x):
                feed(y)
            h.update(b"]")
        else:
            h.update(repr(_canon(x)).encode())

    feed(obj)
    return h.hexdigest()


def artifact_size(obj) -> int:
    """Number of leaf values in an artifact (0 means it came back empty)."""
    if hasattr(obj, "size") and hasattr(obj, "dtype"):
        return int(obj.size)
    if isinstance(obj, dict):
        return sum(artifact_size(v) for v in obj.values())
    if isinstance(obj, (list, tuple, set, frozenset)):
        return sum(artifact_size(v) for v in obj)
    return 1


def md5_term(s: str) -> int:
    """``plans.star_ops._md5_term``: first 15 hex digits of md5, mod 1e9+7."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _CHECK_MOD


def rollup(keys) -> tuple[int, int]:
    """(row count, natural-key checksum) over an iterable of key strings."""
    n, total = 0, 0
    for k in keys:
        n += 1
        total += md5_term("" if k is None else str(k))
    return n, total
