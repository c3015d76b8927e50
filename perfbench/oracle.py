"""DuckDB oracle comparison under the compare rules of graft's correctness
gate: the gate's own typed, order-free frame fingerprint and banned-type
policy (scripts/check_correctness.py, imported from the checkout). A result
matches its oracle when the sorted column names, the row count and the row
hash agree, and no compared column has a banned engine type."""
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
from check_correctness import TABLES, banned_types, frame_fingerprint  # noqa: E402


def connect(tables_dir, spill_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    return con


def _frame(con, sql):
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    rows = con.execute(sql).fetchall()
    cols, types = [d[0] for d in desc], [d[1] for d in desc]
    return {"fp": list(frame_fingerprint(cols, types, rows)),
            "banned": banned_types(cols, types)}


def oracle_frames(con, oracle_sql, cache_path):
    """Oracle fingerprints per key, computed once per corpus and SQL."""
    tag = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("tag") == tag:
            return cached["frames"]
    frames = {k: _frame(con, sql) for k, sql in sorted(oracle_sql.items())}
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"tag": tag, "frames": frames}, f)
    os.replace(tmp, cache_path)
    return frames


def result_frame(con, result_dir):
    return _frame(con, f"SELECT * FROM '{result_dir}/*.parquet'")


def matches(got, want):
    """None when `got` passes against `want`, else the reason."""
    if got["banned"] or want["banned"]:
        return f"banned types {got['banned'] + want['banned']}"
    if got["fp"][0] != want["fp"][0]:
        return f"columns {got['fp'][0]} != {want['fp'][0]}"
    if got["fp"][1] != want["fp"][1]:
        return f"rows {got['fp'][1]} != {want['fp'][1]}"
    if got["fp"][2] != want["fp"][2]:
        return "row hash differs"
    return None
