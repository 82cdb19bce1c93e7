"""Reference answers: each key's ``oracle_sql()`` result on DuckDB, reduced
to the order-insensitive (row count, digest) of
``scripts/check_driver_contract.py`` and cached per dataset, so an oracle
runs once per generated dataset and never inside a timed region."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from check_driver_contract import digest_iter, duck_iter


def answer(cols, rows) -> dict:
    """Sorted column names, row count and order-insensitive digest of a
    result, from either engine."""
    n, digest = digest_iter(rows, cols)
    return {"columns": sorted(cols), "rows": n, "digest": f"{digest:024x}"}


def load(cache_dir: str, data_dir: str, oracles: dict[str, str], keys, tmp_dir: str) -> dict:
    """Reference answer per key, computing only the ones not cached yet.
    The cache file name carries a hash of the oracle SQL, so an edited
    oracle is recomputed."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    try:
        for key in keys:
            sql = oracles[key]
            path = os.path.join(
                cache_dir, f"{key}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.json"
            )
            if os.path.exists(path):
                with open(path) as f:
                    out[key] = json.load(f)
                continue
            if con is None:
                con = _connect(data_dir, tmp_dir)
            cur = con.execute(sql)
            out[key] = answer([d[0] for d in cur.description], duck_iter(cur))
            with open(f"{path}.tmp", "w") as f:
                json.dump(out[key], f)
            os.replace(f"{path}.tmp", path)
    finally:
        if con is not None:
            con.close()
    return out


def _connect(data_dir: str, tmp_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            glob = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{glob}')")
    return con
