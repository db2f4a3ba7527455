"""Order-insensitive result digests, and the DuckDB oracle digests they are
checked against.

A result is normalized column by column, its columns are put in name order
and its rows sorted, and the digest is a SHA-256 over the column names and
the pandas row hashes. Two results with the same multiset of normalized
rows get the same digest, whatever the row order or float summation order.

The normalization follows ``tests/oracle_harness.py``, which compares
Python values after rounding floats and decimals to 9 places:

- every numeric column (integers of any width, booleans, floats, decimals)
  becomes float64 rounded to 9 places with -0.0 folded into 0.0, so a
  BIGINT 5 matches a DOUBLE 5.0 or a DECIMAL 5.00 as it does there. An
  integer column holding a value beyond 2**53 stays int64, because float64
  would merge distinct values; it then matches only an integer column,
  where the harness would also accept an exactly equal double;
- every column gets a validity flag, so NULL and NaN stay apart;
- timestamps and dates become their integer epoch value in microseconds
  or days (the harness compares ISO strings: the same instants);
- nested values are compared as canonical JSON of their normalized items.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

#: part of every digest and of the oracle cache key: a change to the
#: normalization above must change it, so cached oracle digests are redone
DIGEST_VERSION = 2
_EXACT = 2**53


def _py_norm(v):
    if isinstance(v, (bool, int, decimal.Decimal)) and abs(v) <= _EXACT:
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else round(v + 0.0, 9)
    if isinstance(v, (list, tuple)):
        return [_py_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _py_norm(x) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm_column(col: pa.ChunkedArray) -> pa.ChunkedArray:
    t = col.type
    if pa.types.is_integer(t):
        wide = col.cast(pa.int64())
        big = pc.max(pc.abs_checked(wide)).as_py() if len(col) - col.null_count else 0
        if big > _EXACT:
            return wide
    if (pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_floating(t)
            or pa.types.is_decimal(t)):
        return pc.add(pc.round(col.cast(pa.float64()), 9), 0.0)
    if pa.types.is_timestamp(t):
        return col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    if pa.types.is_date(t):
        return col.cast(pa.date32()).cast(pa.int32()).cast(pa.int64())
    if pa.types.is_large_string(t):
        return col.cast(pa.string())
    if pa.types.is_null(t):
        return col.cast(pa.string())
    if pa.types.is_nested(t):
        return pa.chunked_array(
            [pa.array([None if v is None else json.dumps(_py_norm(v)) for v in col.to_pylist()],
                      pa.string())]
        )
    return col


def normalize(table: pa.Table) -> pd.DataFrame:
    """Name-ordered columns, each followed by its validity flag, normalized
    values, rows in sorted order."""
    names = sorted(table.column_names)
    data = {}
    for n in names:
        col = table.column(n)
        data[n] = _norm_column(col).to_pandas()
        data[n + "\0valid"] = col.is_valid().to_pandas()
    frame = pd.DataFrame(data, columns=list(data))
    if len(frame) and names:
        frame = frame.sort_values(list(data), na_position="first", kind="mergesort")
    return frame.reset_index(drop=True)


def digest(table: pa.Table) -> str:
    """SHA-256 of the normalized result (see the module docstring)."""
    frame = normalize(table)
    h = hashlib.sha256(json.dumps([DIGEST_VERSION, *frame.columns]).encode())
    h.update(str(len(frame)).encode())
    if len(frame) and len(frame.columns):
        h.update(pd.util.hash_pandas_object(frame, index=False).to_numpy().tobytes())
    return h.hexdigest()


def oracle_digests(
    sql_by_name: dict[str, str], sf_dir: str, tables: tuple[str, ...], cache_path: str,
    threads: int,
) -> dict[str, str]:
    """Digest of each oracle query's DuckDB result over ``sf_dir``.

    Cached in ``cache_path`` under a key of the oracle text, so a changed
    oracle is re-run while an unchanged one is read back."""
    import duckdb

    cache: dict[str, str] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    key = {n: hashlib.sha256(f"{DIGEST_VERSION}:{sql}".encode()).hexdigest()
           for n, sql in sql_by_name.items()}
    missing = [n for n in sql_by_name if key[n] not in cache]
    if missing:
        con = duckdb.connect()
        con.execute(f"SET threads={int(threads)}")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for n in missing:
            cache[key[n]] = digest(con.execute(sql_by_name[n]).fetch_arrow_table())
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[key[n]] for n in sql_by_name}
