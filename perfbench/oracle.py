"""The face correctness gate: each face's result against its DuckDB oracle.

The rule is the repository's `tools/check.py` compare, whose row hash it
imports: the same column names, the same row count, and the same hash over
rows sorted by all columns, doubles rendered to 10 significant digits.
"""
import hashlib
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import TABLES, frame_hash  # noqa: E402


def _expected(con, sql, cache_dir):
    """(sorted columns, rows, hash) of the oracle's answer. The inputs are
    fixed, so the answer is computed once per checkout and kept on disk."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    exp = con.execute(sql).df()
    key = (sorted(exp.columns), len(exp), frame_hash(exp))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as f:
        json.dump(key, f)
    return key


def check(data_dir, items, cache_dir):
    """Return the names of the faces whose result does not match."""
    if not items:
        return []
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = []
    for it in items:
        try:
            got = pq.read_table(it["dir"]).to_pandas()
            cols, rows, digest = _expected(con, it["sql"], cache_dir)
            ok = (sorted(got.columns) == cols and len(got) == rows
                  and frame_hash(got) == digest)
        except Exception:  # an unreadable result or a failing oracle is a mismatch
            ok = False
        if not ok:
            bad.append(it["face"])
    return bad
