"""Deterministic input generation for the benchmark.

Two kinds of input:

* the base tables (``region`` .. ``embeddings``), generated once per scale
  into ``<work>/data/sf<scale>-<generator digest>/`` from a fixed seed.  They
  reproduce the TPC-H-ish test tables the engine's query suite is written
  against (TESTDATA.md), which live outside the repository, where a run
  reads nothing: the same column names and Arrow types (timestamps are
  microsecond ``TIMESTAMP(isAdjustedToUTC=false)``, as there), row counts,
  key ranges, single-row-group files and value distributions (uniform
  keys, a 30-word document vocabulary with exactly 5% near-duplicate
  documents, unit-norm 64-d embeddings).  ``python3 perfbench/gen.py --compare DIR --scale SF``
  checks that against a copy of those tables;
* the ``ingest_cdc`` inputs (order batches and staged lineitem files),
  generated per run from ``--seed`` and the base tables.

The same seed always gives byte-identical files: numpy's PCG64 stream is
fixed, and pyarrow writes no timestamps into parquet.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    big = sf >= 0.1
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": 5_000 if big else 500,
        "embeddings": 2_000 if big else 500,
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # near duplicates: another document's text plus one token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(_LANGS[0], n, p=_LANGS[1]),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """All base tables at scale ``sf``; one child generator per table so a
    table's content does not depend on the others' sizes."""
    n = _sizes(sf)
    seeds = np.random.SeedSequence(BASE_SEED).spawn(len(TABLES))
    r = {t: np.random.Generator(np.random.PCG64(s)) for t, s in zip(TABLES, seeds)}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g, c = r["customer"], n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": g.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(g, -999.99, 9999.99, c),
            "c_mktsegment": g.choice(_SEGMENTS, c),
        }
    )
    g, s = r["supplier"], n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": g.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(g, -999.99, 9999.99, s),
        }
    )
    g, p = r["part"], n["part"]
    keys = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(g.integers(0, 8, p), g.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, p)],
            "p_type": g.choice(_PTYPES, p),
            "p_size": g.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    g, o = r["orders"], n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": g.integers(0, c, o).astype(np.int64),
            "o_orderstatus": g.choice(["F", "O", "P"], o),
            "o_totalprice": _money(g, 1000.0, 500000.0, o),
            "o_orderdate": _ts(_EPOCH_1995 + g.integers(0, 2405, o) * _DAY_US),
            "o_orderpriority": g.choice(_PRIORITIES, o),
        }
    )
    g, li = r["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": g.integers(0, o, li).astype(np.int64),
            "l_partkey": g.integers(0, p, li).astype(np.int64),
            "l_suppkey": g.integers(0, s, li).astype(np.int64),
            "l_linenumber": g.integers(1, 8, li).astype(np.int32),
            "l_quantity": g.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(g, 900.0, 105000.0, li),
            "l_discount": g.integers(0, 11, li) / 100.0,
            "l_tax": g.integers(0, 9, li) / 100.0,
            "l_returnflag": g.choice(["A", "N", "R"], li),
            "l_linestatus": g.choice(["F", "O"], li),
            "l_shipdate": _ts(_EPOCH_1995 + (1 + g.integers(0, 2499, li)) * _DAY_US),
        }
    )
    g, e = r["events"], n["events"]
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.sort(g.integers(0, 30 * _DAY_US, e))),
            "user_id": g.integers(0, n["users"], e).astype(np.int64),
            "event_type": g.choice(_EVENT_TYPES, e),
            "value": np.round(g.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, e)],
        }
    )
    out["documents"] = _documents(r["documents"], n["documents"])
    g, m = r["embeddings"], n["embeddings"]
    vecs = g.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": g.integers(0, 10, m).astype(np.int32),
        }
    )
    return out


def digest(path: str) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            h.update(os.path.relpath(fp, path).encode())
            with open(fp, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_base(data_root: str, sf: float) -> str:
    """Generate the base tables at ``sf`` once; returns their directory,
    whose name carries a digest of this generator, so editing it makes
    new data.  A ``.complete`` marker is written last, so an interrupted
    generation is redone."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    out = os.path.join(data_root, f"sf{sf:g}-{version}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(os.path.join(out, ".complete"), "w") as fh:
        json.dump({"sf": sf, "seed": BASE_SEED}, fh)
    return out


def _column_stats(col: pa.ChunkedArray) -> dict[str, float]:
    if pa.types.is_list(col.type):
        col = pc.list_flatten(col)
    if pa.types.is_string(col.type):
        return {"distinct": len(pc.unique(col)), "mean_len": pc.mean(pc.utf8_length(col)).as_py()}
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    q = pc.quantile(col, q=[0.01, 0.5, 0.99]).to_pylist()
    return {"p01": q[0], "p50": q[1], "p99": q[2], "mean": pc.mean(col).as_py()}


def compare(ref_dir: str, sf: float, tol: float = 0.05) -> list[str]:
    """Differences between the tables generated at ``sf`` and reference
    tables of that scale in ``ref_dir``: schema (names and Arrow types),
    row count, and per column quantiles and mean (numbers, timestamps,
    list elements) or distinct count and mean length (strings), each
    within ``tol`` of the reference's value range (strings: of its
    value)."""
    out = []
    for name, mine in base_tables(sf).items():
        ref = pq.read_table(os.path.join(ref_dir, f"{name}.parquet"))
        if ref.schema != mine.schema:
            out.append(f"{name}: schema {mine.schema} != {ref.schema}")
            continue
        if ref.num_rows != mine.num_rows:
            out.append(f"{name}: {mine.num_rows} rows != {ref.num_rows}")
        for c in ref.column_names:
            a, b = _column_stats(mine[c]), _column_stats(ref[c])
            for k, want in b.items():
                room = tol * (b["p99"] - b["p01"] if "p99" in b else abs(want))
                if abs(a[k] - want) > max(room, 1e-9):
                    out.append(f"{name}.{c}: {k} {a[k]:.6g} vs {want:.6g}")
    return out


# -- ingest_cdc inputs ------------------------------------------------------

INGEST_ROUNDS = 48  # more rounds than any run reaches, steal retakes included
# sizes at sf0.1; smaller base tables scale them down
INITIAL_ORDERS = 20_000
BATCH_ORDERS = 2_000  # half updates of live keys, half new keys
STAGED_LINEITEMS = 5_000
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def ingest_inputs(base_dir: str, out_dir: str, seed: int) -> dict:
    """Write the seeded ``ingest_cdc`` inputs under ``out_dir`` and return
    the plan: initial table, per-round order batches, staged files (paths
    relative to ``out_dir``) and the parameters of each round's
    update/delete/time-travel read.

    Order batches hold unique keys: half are existing keys with a new
    status and price (merge updates), half are fresh keys (merge
    inserts).  Fresh keys are drawn above every key the base table or an
    earlier batch used, so the op sequence never depends on what a
    mutation deleted."""
    rng = np.random.Generator(np.random.PCG64(seed))
    orders = pq.read_table(os.path.join(base_dir, "orders.parquet"), columns=ORDER_COLS)
    lineitem = pq.read_table(os.path.join(base_dir, "lineitem.parquet"))
    os.makedirs(out_dir, exist_ok=True)

    n_initial = min(INITIAL_ORDERS, orders.num_rows // 4)
    half = min(BATCH_ORDERS, n_initial // 10) // 2
    n_staged = min(STAGED_LINEITEMS, lineitem.num_rows // 10)
    init_rows = np.sort(rng.choice(orders.num_rows, n_initial, replace=False))
    initial = orders.take(pa.array(init_rows))
    pq.write_table(initial, os.path.join(out_dir, "initial.parquet"))

    next_key = int(orders["o_orderkey"].to_numpy().max()) + 1
    known = initial["o_orderkey"].to_numpy()
    rounds = []
    for r in range(INGEST_ROUNDS):
        upd_keys = rng.choice(known, half, replace=False)
        new_keys = np.arange(next_key, next_key + half, dtype=np.int64)
        next_key += half
        keys = np.concatenate([upd_keys, new_keys])
        batch = pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, 15_000, keys.size).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], keys.size),
                "o_totalprice": _money(rng, 1000.0, 500000.0, keys.size),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, keys.size) * _DAY_US),
            }
        )
        batch_name = f"batch_{r:03d}.parquet"
        pq.write_table(batch, os.path.join(out_dir, batch_name))
        known = np.concatenate([known, new_keys])
        lo = int(rng.integers(0, lineitem.num_rows - n_staged))
        stage_name = os.path.join("stage", f"lineitem_{r:03d}.parquet")
        os.makedirs(os.path.join(out_dir, "stage"), exist_ok=True)
        pq.write_table(lineitem.slice(lo, n_staged), os.path.join(out_dir, stage_name))
        rounds.append(
            {
                "batch": batch_name,
                "batch_rows": int(keys.size),
                "stage_file": stage_name,
                "stage_rows": n_staged,
                # UPDATE ... WHERE o_orderkey % 97 = k ; DELETE ... % 89 = k
                "update_mod": int(rng.integers(0, 97)),
                "delete_mod": int(rng.integers(0, 89)),
                # time-travel read: this many commits back from head
                "travel_back": int(rng.integers(1, 4)),
            }
        )
    plan = {
        "seed": seed,
        "initial": "initial.parquet",
        "initial_rows": n_initial,
        "rounds": rounds,
    }
    with open(os.path.join(out_dir, "plan.json"), "w") as fh:
        json.dump(plan, fh, indent=1)
    return plan


if __name__ == "__main__":
    import argparse
    import sys

    ap = argparse.ArgumentParser(description="Compare the generated base tables "
                                 "with reference tables of the same scale.")
    ap.add_argument("--compare", required=True, metavar="DIR")
    ap.add_argument("--scale", type=float, default=0.1)
    args = ap.parse_args()
    diffs = compare(args.compare, args.scale)
    print("\n".join(diffs) or "no differences")
    sys.exit(1 if diffs else 0)
