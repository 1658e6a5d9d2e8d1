"""Output check: each query's Spark result against its DuckDB oracle.

The canonical form, the value hash and the dtype classes are imported
from scripts/parity.py, so the benchmark checks outputs the way the
repository's parity gate does. The compare is order-insensitive: the
hash sorts rows after canonicalization.
"""
import glob
import hashlib
import json
import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from parity import table_hash, types_of  # noqa: E402  (the repository's parity gate)

# Bump when the canonical form changes, so cached oracle results are redone.
CACHE_VERSION = 1
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_result(con, sql, cache_dir, data_id):
    """Columns, dtype classes, row count and value hash of an oracle's
    result. The oracle depends only on its SQL text and the tables, so
    its result is kept in `cache_dir` under a key of both."""
    key = hashlib.sha256(f"{CACHE_VERSION}\0{data_id}\0{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    df = con.execute(sql).df()
    res = {"columns": sorted(df.columns), "types": types_of(con, sql),
           "rows": len(df), "hash": table_hash(df)}
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def compare(con, files, sql, cache_dir, data_id):
    """None when the Spark output in `files` matches the oracle, else why not."""
    scan = f"SELECT * FROM read_parquet({files!r})"
    sdf = con.execute(scan).df()
    if sql is None:
        return None if len(sdf) > 0 else "no oracle and no rows"
    try:
        o = oracle_result(con, sql, cache_dir, data_id)
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle error: {e}"
    sc = sorted(sdf.columns)
    if sc != o["columns"]:
        return f"schema mismatch spark={sc} oracle={o['columns']}"
    st = types_of(con, scan)
    tdiff = {c: (st.get(c), o["types"].get(c)) for c in sc if st.get(c) != o["types"].get(c)}
    if tdiff:
        return f"type mismatch {tdiff}"
    if len(sdf) != o["rows"]:
        return f"row count mismatch spark={len(sdf)} oracle={o['rows']}"
    if table_hash(sdf) != o["hash"]:
        return "value mismatch"
    return None


def open_tables(data_dir):
    """A DuckDB connection with a view per table, and the tables' identity."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    ident = []
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            st = os.stat(path)
            ident.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return con, ",".join(ident)


def fill_cache(data_dir, oracle_json, cache_dir):
    """Computes and caches every oracle in `oracle_json` ({name: sql})."""
    con, data_id = open_tables(data_dir)
    with open(oracle_json) as f:
        for sql in json.load(f).values():
            try:
                oracle_result(con, sql, cache_dir, data_id)
            except Exception:  # reported by the run's own check
                pass
    con.close()


def check_outputs(data_dir, check_dir, spark_check, cache_dir):
    """Map of query name to None (pass) or the reason it failed.

    `spark_check` is the harness's list of {"q", "ok", "error"}: a query
    that threw while writing its output fails without a compare.
    """
    con, data_id = open_tables(data_dir)
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for c in spark_check:
        name = c["q"]
        if not c["ok"]:
            out[name] = f"spark error: {c['error']}"
            continue
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            out[name] = "no spark output"
            continue
        try:
            out[name] = compare(con, files, oracle.get(name), cache_dir, data_id)
        except Exception as e:
            out[name] = f"compare error: {e}"
    con.close()
    return out
