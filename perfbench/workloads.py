"""The benchmark's workloads: which ops run, how each is timed, and how its
output is checked.

Query workloads (``olap_sf01``, ``llm_ops``) run suite queries.  A timed
sample builds the DataFrame and executes it into Spark's ``noop`` sink;
the once-per-run check collects the same query and compares it with the
DuckDB oracle.  ``ingest_cdc`` runs rounds of writes against
snapshot-versioned tables and is checked against an independent DuckDB
replay of the same op sequence.
"""

from __future__ import annotations

import os

# Relational queries whose cost is mostly the fixed per-query floor
# (py4j construction, Catalyst, AQE stage scheduling).  One query per plan
# shape of the headline suite: scan-aggregate, 3- and 6-way broadcast
# joins, filter-only scan, outer join, semi join over an aggregate,
# window top-k, rollup, sessionization window and the derived wide-table
# view.  The list is kept short so a run holds two passes.
OLAP_SF01 = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q13",
    "tpch_q18",
    "window_topk_per_group",
    "grouping_rollup",
    "ev_sessionize",
    "hits_q12",
]

# LLM-pipeline operators, one per operator family: n-gram and MinHash
# near-dup self-joins, IVF vector search (lambda-fold dot products), BM25
# over an inverted index and the grid-bucketed spatial join.  Self-joins,
# lambda folds, checkpoint jobs and Python workers dominate, not planning.
LLM_OPS = [
    "llm_dedup_ngram_jaccard",
    "llm_dedup_minhash_lsh",
    "llm_ann_ivf_topk",
    "fts_bm25_topk",
    "geo_spatial_join",
]

QUERY_WORKLOADS = {"olap_sf01": OLAP_SF01, "llm_ops": LLM_OPS}
# one op per workload run during set-up; not part of the timed list
WARMUP_OP = {"olap_sf01": "tpch_q22", "llm_ops": "llm_text_quality"}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class QueryWorkload:
    """Suite queries over the base tables."""

    def __init__(self, spark, name: str, data_dir: str, expected: dict) -> None:
        from databend_spark.suite import queries

        self.spark = spark
        self.name = name
        self.data_dir = data_dir
        self.ops = list(QUERY_WORKLOADS[name])
        self.expected = expected
        self._fns = queries()

    def setup(self) -> None:
        from databend_spark.session import register_tables

        register_tables(self.spark, self.data_dir)
        _noop(self._fns[WARMUP_OP[self.name]](self.spark, self.data_dir))

    def check(self, op: str) -> tuple[str | None, int]:
        """Collect ``op`` once and compare it with the oracle; returns
        (failure or None, result rows)."""
        from perfbench.oracle import check_rows

        df = self._fns[op](self.spark, self.data_dir)
        rows = [tuple(r) for r in df.collect()]
        return check_rows(self.expected[op], df.columns, rows), len(rows)

    def run(self, op: str) -> None:
        _noop(self._fns[op](self.spark, self.data_dir))

    def run_traced(self, op: str, tracer) -> None:
        sc = self.spark.sparkContext
        with tracer.span("construct") as span:
            df = self._fns[op](self.spark, self.data_dir)
            # jobs the construction ran eagerly, before the sink
            group = sc.getLocalProperty("spark.jobGroup.id")
            span.attrs["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        with tracer.span("plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("execute"):
            _noop(df)


# -- ingest_cdc ----------------------------------------------------------------

# One round, in units whose order the seed shuffles.  The unit
# [append, stream_consume, merge, dyn_refresh] keeps its inner order: the
# merge source is the change range the stream consumed.  compact (with
# vacuum) closes every round so space amplification levels off.
INGEST_UNITS = [
    ["copy_into"],
    ["append", "stream_consume", "merge", "dyn_refresh"],
    ["update"],
    ["delete"],
    ["read_latest"],
    ["read_version"],
]
RETAIN_VERSIONS = 4

# Databend dialect (count_if, ::) so the read goes through sqlgen
READ_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, "
    "count_if(o_totalprice > 250000) AS big, "
    "SUM(o_totalprice::DECIMAL(15,2)) AS s "
    "FROM orders_cdc GROUP BY o_orderstatus"
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _state_rows(rows) -> list[tuple]:
    """(status, count, big, decimal sum) rows, order- and type-normalised."""
    return sorted((str(r[0]), int(r[1]), int(r[2]), str(r[3])) for r in rows)


class IngestWorkload:
    """Seeded CDC rounds against snapshot-versioned tables.

    Every op of a round is appended to ``self.log`` with what it returned,
    so ``verify`` can replay the identical sequence in DuckDB."""

    def __init__(self, spark, inputs_dir: str, plan: dict, table_root: str) -> None:
        self.spark = spark
        self.inputs_dir = inputs_dir
        self.plan = plan
        self.table_root = table_root
        self.log: list[dict] = []

    def _input(self, rel: str) -> str:
        return os.path.join(self.inputs_dir, rel)

    def setup(self) -> None:
        """Tables under the (empty) table root, the initial load and one
        read."""
        from pyspark.sql import functions as F

        from databend_spark.session import SessionContext
        from databend_spark.streaming import DynamicTable, Stream, VersionedTable

        root = self.root = self.table_root
        spark = self.spark
        self.ctx = SessionContext(spark)
        self.copy_table = "lineitem_copy"
        self.orders = VersionedTable(spark, os.path.join(root, "orders"))
        self.orders.append(spark.read.parquet(self._input(self.plan["initial"])))
        self.raw = VersionedTable(spark, os.path.join(root, "orders_raw"))
        self.stream = Stream(self.raw, "cdc")
        self.dyn = DynamicTable(
            spark,
            self.raw,
            os.path.join(root, "status_totals"),
            lambda ch: ch.groupBy("o_orderstatus").agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(15,2)")).alias("s"),
            ),
            mode="incremental",
        )
        self.log = [{"op": "initial", "version": 1}]
        self.pending = None
        self._read_latest()

    def begin_round(self, r: int) -> None:
        self.spec = self.plan["rounds"][r]

    def run(self, op: str) -> dict:
        """Run one op of the current round; what it returns is logged."""
        return getattr(self, "_" + op)()

    def _copy_into(self) -> dict:
        n = self.ctx.copy_into(self.copy_table, [self._input(self.spec["stage_file"])])
        return {"files": n, "rows": self.spec["stage_rows"]}

    def recopy(self) -> int:
        """Copying an already-loaded file must load nothing (untimed)."""
        return self.ctx.copy_into(self.copy_table, [self._input(self.spec["stage_file"])])

    def _append(self) -> dict:
        df = self.spark.read.parquet(self._input(self.spec["batch"]))
        return {"version": self.raw.append(df), "rows": self.spec["batch_rows"],
                "batch": self.spec["batch"]}

    def _stream_consume(self) -> dict:
        seen = {}

        def take(changes) -> None:
            seen["rows"] = changes.count()
            self.pending = changes

        head = self.stream.consume(take)
        return {"head": head, "rows": seen.get("rows", 0)}

    def _merge(self) -> dict:
        from databend_spark.operators.mutations import merge_into, src

        v = merge_into(
            self.orders,
            self.pending,
            on=["o_orderkey"],
            when_matched_update={
                "o_orderstatus": src("o_orderstatus"),
                "o_totalprice": src("o_totalprice"),
            },
        )
        return {"version": v, "batch": self.spec["batch"]}

    def _dyn_refresh(self) -> dict:
        return {"refreshed": bool(self.dyn.refresh())}

    def _update(self) -> dict:
        from pyspark.sql import functions as F

        from databend_spark.operators.mutations import update_table

        k = self.spec["update_mod"]
        v = update_table(
            self.orders, F.col("o_orderkey") % 97 == k, {"o_orderstatus": F.lit("U")}
        )
        return {"version": v, "mod": k}

    def _delete(self) -> dict:
        from pyspark.sql import functions as F

        from databend_spark.operators.mutations import delete_from

        k = self.spec["delete_mod"]
        return {"version": delete_from(self.orders, F.col("o_orderkey") % 89 == k), "mod": k}

    def _read_latest(self) -> dict:
        version = self.orders.version
        self.ctx.register_view("orders_cdc", self.orders.read(version))
        rows = self.ctx.sql(READ_SQL).collect()
        return {"version": version, "result": _state_rows(rows)}

    def _read_version(self) -> dict:
        from pyspark.sql import functions as F

        version = max(1, self.orders.version - self.spec["travel_back"])
        rows = (
            self.orders.read(version=version)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*"),
                F.count(F.when(F.col("o_totalprice") > 250000, 1)),
                F.sum(F.col("o_totalprice").cast("decimal(15,2)")),
            )
            .collect()
        )
        return {"version": version, "result": _state_rows(rows)}

    def last_commit_bytes(self) -> int:
        """Bytes of the data directory the latest commit wrote."""
        return dir_bytes(self.orders._read_log()[-1]["dir"])

    def _compact(self) -> dict:
        v = self.orders.compact()
        removed = self.orders.vacuum(retain_last=RETAIN_VERSIONS)
        return {"version": v, "removed_dirs": len(removed)}

    # -- verification --------------------------------------------------------

    def verify(self) -> tuple[list[str], dict]:
        """Replay the logged ops in DuckDB and compare; returns (failures,
        facts used by the per-layer metrics)."""
        import duckdb

        failures: list[str] = []
        con = duckdb.connect()
        try:
            facts = self._replay(con, failures)
            self._compare_final(con, failures, facts)
        finally:
            con.close()
        return failures, facts

    def _replay(self, con, failures: list[str]) -> dict:
        def state() -> list[tuple]:
            return _state_rows(con.execute(
                "SELECT o_orderstatus, count(*), count(*) FILTER (WHERE o_totalprice > 250000), "
                "sum(CAST(o_totalprice AS DECIMAL(15,2))) FROM o GROUP BY 1").fetchall())

        def count() -> int:
            return con.execute("SELECT count(*) FROM o").fetchone()[0]

        con.execute(
            f"CREATE TABLE o AS SELECT * FROM read_parquet('{self._input(self.plan['initial'])}')")
        con.execute("CREATE TABLE raw AS SELECT * FROM o LIMIT 0")
        version, states = 1, {1: state()}
        changed = rewritten = copied_rows = appended = 0
        for entry in self.log[1:]:
            op, out = entry["op"], entry["out"]
            tag = f"{op}@round{entry['round']}"
            if op == "merge":
                b = f"read_parquet('{self._input(out['batch'])}')"
                con.execute(
                    f"UPDATE o SET o_orderstatus = b.o_orderstatus, o_totalprice = b.o_totalprice "
                    f"FROM {b} b WHERE o.o_orderkey = b.o_orderkey")
                con.execute(
                    f"INSERT INTO o SELECT * FROM {b} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o)")
                changed += con.execute(f"SELECT count(*) FROM {b}").fetchone()[0]
            elif op == "update":
                changed += con.execute(
                    f"UPDATE o SET o_orderstatus = 'U' WHERE o_orderkey % 97 = {out['mod']}"
                ).fetchone()[0]
            elif op == "delete":
                changed += con.execute(
                    f"DELETE FROM o WHERE o_orderkey % 89 = {out['mod']}").fetchone()[0]
            elif op == "append":
                con.execute(f"INSERT INTO raw SELECT * FROM read_parquet('{self._input(out['batch'])}')")
                appended += out["rows"]
            elif op == "stream_consume":
                if out["rows"] != self.spec_rows(entry):
                    failures.append(f"{tag}: consumed {out['rows']} rows, appended {self.spec_rows(entry)}")
            elif op == "copy_into":
                copied_rows += out["rows"]
                if out["files"] != 1:
                    failures.append(f"{tag}: copy loaded {out['files']} files, expected 1")
                if entry.get("recopy") != 0:
                    failures.append(f"{tag}: re-copy loaded {entry.get('recopy')} files, expected 0")
            elif op == "dyn_refresh" and not out["refreshed"]:
                failures.append(f"{tag}: dynamic table did not refresh")
            elif op in ("read_latest", "read_version"):
                want = states.get(out["version"])
                if want is None or [list(r) for r in want] != [list(r) for r in out["result"]]:
                    failures.append(f"{tag}: result at version {out['version']} differs from replay")
            if op in ("merge", "update", "delete", "compact"):
                version += 1
                if out["version"] != version:
                    failures.append(f"{tag}: committed version {out['version']}, expected {version}")
                states[version] = state()
                if op != "compact":
                    rewritten += count()
        return {
            "states": states,
            "head": version,
            "rows_changed": changed,
            "rows_rewritten": rewritten,
            "rows_appended": appended,
            "rows_copied": copied_rows,
        }

    def spec_rows(self, entry: dict) -> int:
        return self.plan["rounds"][entry["round"]]["batch_rows"]

    def _compare_final(self, con, failures: list[str], facts: dict) -> None:
        from pyspark.sql import functions as F

        from databend_spark.streaming import VersionedTable

        # a freshly opened table sees the acknowledged head and every
        # retained version with the replayed content
        fresh = VersionedTable(self.spark, self.orders.path)
        if fresh.version != facts["head"]:
            failures.append(f"fresh table head {fresh.version} != acknowledged {facts['head']}")
        retained = [e["version"] for e in fresh._read_log()]
        want_retained = list(range(max(1, facts["head"] - RETAIN_VERSIONS + 1), facts["head"] + 1))
        if not set(want_retained) <= set(retained):
            failures.append(f"fresh table retains versions {retained}, expected {want_retained}")
        for v in want_retained:
            n = fresh.read(version=v).count()
            want = sum(r[1] for r in facts["states"][v])
            if n != want:
                failures.append(f"version {v}: {n} rows, replay has {want}")
        got = fresh.read().agg(
            F.count("*"), F.sum("o_orderkey"),
            F.sum(F.col("o_totalprice").cast("decimal(15,2)"))).collect()[0]
        want = con.execute(
            "SELECT count(*), sum(o_orderkey), sum(CAST(o_totalprice AS DECIMAL(15,2))) FROM o"
        ).fetchone()
        if (int(got[0]), int(got[1]), str(got[2])) != (int(want[0]), int(want[1]), str(want[2])):
            failures.append(f"final table (count, key sum, price sum) {tuple(got)} != replay {want}")
        dyn = {
            r[0]: (int(r[1]), str(r[2]))
            for r in self.dyn.read().groupBy("o_orderstatus")
            .agg(F.sum("n"), F.sum("s")).collect()
        }
        want_dyn = {
            r[0]: (int(r[1]), str(r[2]))
            for r in con.execute(
                "SELECT o_orderstatus, count(*), sum(CAST(o_totalprice AS DECIMAL(15,2))) "
                "FROM raw GROUP BY 1").fetchall()
        }
        if dyn != want_dyn:
            failures.append("dynamic table totals differ from replay")
        copied = self.spark.table(self.copy_table).count()
        if copied != facts["rows_copied"]:
            failures.append(f"copy table has {copied} rows, staged {facts['rows_copied']}")
