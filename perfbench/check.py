"""Output checks: order-insensitive result digests for Spark vs the
registered DuckDB oracles, and the expected CalcAvgLoan answers.

A digest canonicalizes every cell (integers, decimals and floats by
value as doubles with the last 12 mantissa bits dropped, timestamps as
UTC microseconds, strings as-is, nested values as strings with floats
to 12 significant digits), hashes each row, and
hashes the sorted row hashes together with the lower-cased column
names. Two results with the same digest hold the same multiset of rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

NULL = "\x00null"


def _py_cell(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "%.12g" % (v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_py_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_py_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist"):
        return _py_cell(v.tolist())
    return str(v)


def _canon_column(col: pa.ChunkedArray) -> pd.Series:
    t = col.type
    if pa.types.is_dictionary(t):
        col, t = col.cast(t.value_type), t.value_type
    if pa.types.is_timestamp(t):
        col, t = pc.cast(pc.cast(col, pa.timestamp("us", tz=t.tz)), pa.int64()), pa.int64()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return pd.Series(col.to_pandas(), dtype=object).fillna(NULL)
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t) \
            or pa.types.is_boolean(t):
        x = pc.cast(col, pa.float64()).to_numpy(zero_copy_only=False) + 0.0
        # Drop the low 12 mantissa bits (~1e-12 relative): a last-digit
        # difference from another summation order hashes the same.
        bits = x.view(np.uint64) & ~np.uint64((1 << 12) - 1)
        return pd.Series(bits)
    return pd.Series([_py_cell(v) for v in col.to_pylist()], dtype=object)


def digest(table: pa.Table) -> str:
    """Multiset digest of an Arrow result (see module docstring)."""
    names = sorted(table.column_names, key=str.lower)
    head = "|".join(n.lower() for n in names).encode()
    if table.num_rows == 0:
        return hashlib.sha256(head + b"#0").hexdigest()
    frame = pd.DataFrame({i: _canon_column(table.column(n)) for i, n in enumerate(names)})
    rows = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    return hashlib.sha256(head + f"#{table.num_rows}".encode() + rows.tobytes()).hexdigest()


def duck_connect(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def oracle_digests(data_dir: str, tables, specs: dict, names) -> dict[str, str]:
    """DuckDB oracle digest per query, cached next to the inputs (the
    inputs are immutable per seed, so the digests are too)."""
    cache = os.path.join(data_dir, "oracle_digests.json")
    have = {}
    if os.path.exists(cache):
        with open(cache) as f:
            have = json.load(f)
    missing = [n for n in names if n not in have]
    if missing:
        con = duck_connect(data_dir, tables)
        try:
            for n in missing:
                have[n] = digest(con.sql(specs[n].oracle).arrow())
        finally:
            con.close()
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(have, f, indent=1, sort_keys=True)
        os.replace(tmp, cache)
    return {n: have[n] for n in names}


def expected_averages(main_path: str, key_col: str, value_col: str) -> dict[int, int]:
    """Per-key average truncated toward zero (Python ``int()``), the
    CalcAvgLoan answer, computed by DuckDB from the stored main."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.sql(
            f"SELECT {key_col}, AVG({value_col}) FROM "
            f"read_parquet('{main_path}/**/*.parquet') GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {int(k): int(a) for k, a in rows}
