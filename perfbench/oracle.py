"""Expected results of the query ops, computed once per input directory.

Each suite query's DuckDB oracle (``oracle_sql()``) runs on the same
parquet files; its rows go through the oracle gate's normalisation and
value hash (``tools/check_oracle.py``), and the digest is cached in
``<data dir>/_expected.json`` next to a digest of the oracle SQL.  A query whose gate is rows-only
(``oracle=None``) is checked for a non-empty result only, as the gate
does.
"""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_FILE = "_expected.json"


def expected_results(data_dir: str, names: list[str]) -> dict[str, dict]:
    """``{name: {"kind": "hash"|"rows", "rows": n, "cols": [...], "hash": h}}``
    for every name.  Entries are keyed by a digest of the oracle SQL, so a
    changed oracle is recomputed."""
    from databend_spark.suite import oracle_sql

    oracles = oracle_sql()
    path = os.path.join(data_dir, EXPECTED_FILE)
    cache: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    sha = {n: hashlib.sha256((oracles.get(n) or "").encode()).hexdigest() for n in names}
    missing = [n for n in names if cache.get(n, {}).get("sql_sha") != sha[n]]
    if missing:
        from tools.check_oracle import duck_con, normalize, value_hash

        con = duck_con(data_dir)
        try:
            for name in missing:
                sql = oracles.get(name)
                if sql is None:
                    cache[name] = {"kind": "rows", "sql_sha": sha[name]}
                    continue
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                cache[name] = {
                    "kind": "hash",
                    "rows": len(rows),
                    "cols": sorted(cols),
                    "hash": value_hash(normalize(rows, cols)),
                    "sql_sha": sha[name],
                }
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}


def check_rows(expected: dict, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``rows`` match ``expected``, else what differs."""
    from tools.check_oracle import normalize, value_hash

    if expected["kind"] == "rows":
        return None if rows else "empty result (rows-only check)"
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != {expected['cols']}"
    if len(rows) != expected["rows"]:
        return f"{len(rows)} rows != {expected['rows']}"
    if value_hash(normalize(rows, cols)) != expected["hash"]:
        return "value hash differs from the DuckDB oracle"
    return None
