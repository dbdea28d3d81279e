"""Per-layer metrics of a traced run.

Each traced op sample yields a dict of layer metrics (``op_layer_metrics``)
from its spans and Spark's counters; the run's per-layer metrics
(``run_layer_metrics``) are, per op, the mean over its traced samples,
summed over the ops: a value is "per pass over the workload's op list"
whatever the run length.  Ratios are taken over those sums.  A layer a
workload does not call reports 0 there.
"""

from __future__ import annotations

import os
import statistics

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
PER_LAYER = {
    "session.start_s": "s",
    "session.get_spark_s": "s",
    "session.register_tables_s": "s",
    "session.register_calls": "count",
    "suite.construct_s": "s",
    "suite.construct_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.core_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.scan_bytes": "B",
    "exec.scan_rows": "count",
    "exec.files_read": "count",
    "exec.broadcasts": "count",
    "exec.sql_executions": "count",
    "exec.rows_examined_per_row_returned": "ratio",
    "operators.ngram_jaccard_pairs_s": "s",
    "operators.minhash_lsh_pairs_s": "s",
    "operators.ivf_build_s": "s",
    "operators.ivf_search_s": "s",
    "operators.build_inverted_index_s": "s",
    "operators.search_bm25_s": "s",
    "operators.points_in_polygons_s": "s",
    "operators.python_eval_s": "s",
    "operators.python_eval_rows": "count",
    "operators.candidate_rows_per_result_row": "ratio",
    "sqlgen.rewrite_s": "s",
    "sqlgen.rewrite_calls": "count",
    "sqlgen.retries": "count",
    "sources.copy_into_s": "s",
    "sources.files_loaded": "count",
    "sources.files_skipped": "count",
    "streaming.commit_s": "s",
    "streaming.commits": "count",
    "streaming.log_bytes": "B",
    "streaming.dirs_per_read": "count",
    "streaming.consume_rows": "count",
    "streaming.compact_s": "s",
    "mutations.merge_s": "s",
    "mutations.update_s": "s",
    "mutations.delete_s": "s",
    "mutations.bytes_written_per_user_byte": "ratio",
    "mutations.rows_rewritten_per_row_changed": "ratio",
    "ingest.rows_per_s": "rows/s",
    "ingest.stored_bytes_per_user_byte": "ratio",
    "op.unattributed_s": "s",
    "trace.overhead_s": "s",
}

# span name -> per-op metric it sums into
_SPAN_METRIC = {
    "construct": "suite.construct_s",
    "plan": "catalyst.plan_s",
    "execute": "exec.run_s",
    "session.register_tables": "session.register_tables_s",
    "sqlgen.rewrite": "sqlgen.rewrite_s",
    "sources.copy_into": "sources.copy_into_s",
    "streaming.commit": "streaming.commit_s",
    "streaming.compact": "streaming.compact_s",
    "streaming.vacuum": "streaming.compact_s",
    "mutations.merge": "mutations.merge_s",
    "mutations.update": "mutations.update_s",
    "mutations.delete": "mutations.delete_s",
}
_SPAN_COUNT = {
    "session.register_tables": "session.register_calls",
    "sqlgen.rewrite": "sqlgen.rewrite_calls",
    "sqlgen.retry": "sqlgen.retries",
    "streaming.commit": "streaming.commits",
}


def op_layer_metrics(root, spans, stages: dict, sql: dict) -> dict:
    """Layer metrics of one traced op sample: span totals by layer, the
    stage totals of its job group and the SQL metrics of its executions."""
    wall = root.end - root.start
    m: dict[str, float] = {"op.wall_s": wall}
    direct = sum(s.end - s.start for s in spans if s.parent == root.sid)
    m["op.unattributed_s"] = wall - direct
    dirs = []
    for s in spans:
        dur = s.end - s.start
        key = _SPAN_METRIC.get(s.name)
        if key is None and s.name.startswith("operators."):
            key = s.name + "_s"
        if key:
            m[key] = m.get(key, 0.0) + dur
        if s.name in _SPAN_COUNT:
            m[_SPAN_COUNT[s.name]] = m.get(_SPAN_COUNT[s.name], 0) + 1
        if s.name == "construct":
            m["suite.construct_jobs"] = s.attrs.get("jobs", 0)
        if s.name == "sources.copy_into":
            m["sources.files_loaded"] = m.get("sources.files_loaded", 0) + (s.attrs["ret"] or 0)
        if s.name == "streaming.dirs":
            dirs.append(s.attrs.get("len", 0))
    if dirs:
        m["streaming.dirs_calls"] = len(dirs)
        m["streaming.dirs_total"] = sum(dirs)
    m["uses_operators"] = float(any(s.name.startswith("operators.") for s in spans))
    for k, v in stages.items():
        m["exec." + k] = v
    m["exec.sql_executions"] = sql["executions"]
    m["exec.files_read"] = sql["files_read"]
    m["exec.broadcasts"] = sql["broadcasts"]
    m["operators.python_eval_s"] = sql["python_eval_s"]
    m["operators.python_eval_rows"] = sql["python_eval_rows"]
    m["join_output_rows"] = sql["join_output_rows"]
    return m


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def run_layer_metrics(run, facts: dict) -> dict:
    """The per-layer metrics of a traced run, as printed in its result."""
    traced = [p for p in run.passes if p["traced"]]
    rows_per_op = getattr(run, "result_rows", {})
    # per pass = sum over ops of the mean over that op's traced samples,
    # which a pass cut short at the deadline does not skew
    total: dict[str, float] = {}
    returned = candidates = candidate_base = 0.0
    for op, samples in run.op_layers.items():
        mean: dict[str, float] = {}
        for m in samples:
            for k, v in m.items():
                mean[k] = mean.get(k, 0.0) + v / len(samples)
        for k, v in mean.items():
            total[k] = total.get(k, 0.0) + v
        returned += rows_per_op.get(op, 0)
        if mean["uses_operators"]:
            candidates += mean["join_output_rows"]
            candidate_base += rows_per_op.get(op, 0)
    out = {k: total.get(k, 0.0) for k in PER_LAYER}
    out["session.start_s"] = run.setup_times["start_s"]
    out["session.get_spark_s"] = run.setup_times["get_spark_s"]
    out["exec.core_util"] = _ratio(
        total.get("exec.task_busy_s", 0.0),
        (os.cpu_count() or 1) * total.get("op.wall_s", 0.0))
    out["streaming.dirs_per_read"] = _ratio(
        total.get("streaming.dirs_total", 0.0), total.get("streaming.dirs_calls", 0.0))
    out["operators.candidate_rows_per_result_row"] = _ratio(candidates, candidate_base)
    # pass_s as the end-to-end metric defines it, traced minus untraced
    pass_s = {}
    for flag in (True, False):
        by_op: dict[str, list[float]] = {}
        for smp in run.samples:
            if smp["traced"] == flag and not smp.get("discarded"):
                by_op.setdefault(smp["op"], []).append(smp["t"])
        pass_s[flag] = sum(statistics.median(v) for v in by_op.values())
    out["trace.overhead_s"] = pass_s[True] - pass_s[False]
    if run.name == "ingest_cdc":
        _ingest_metrics(run, facts, out, traced, pass_s[False])
    else:
        out["exec.rows_examined_per_row_returned"] = _ratio(total.get("exec.scan_rows", 0.0), returned)
    return {k: {"value": float(out[k]), "unit": u} for k, u in PER_LAYER.items()}


def _ingest_metrics(run, facts: dict, out: dict, traced: list, pass_s: float) -> None:
    from perfbench.workloads import dir_bytes

    wl = run.workload
    traced_rounds = {p["round"] for p in traced}
    log = [e for e in wl.log if e.get("round") in traced_rounds]
    n = max(1, len(traced_rounds))
    out["streaming.consume_rows"] = sum(
        e["out"]["rows"] for e in log if e["op"] == "stream_consume") / n
    out["sources.files_skipped"] = sum(
        1 for e in log if e["op"] == "copy_into" and e.get("recopy") == 0) / n
    # both per traced round: scan_rows is already a per-round mean
    written = sum(e["out"]["rows"] for e in log if e["op"] in ("append", "copy_into")) / n
    out["exec.rows_examined_per_row_returned"] = _ratio(out["exec.scan_rows"], written)
    round_rows = wl.spec["batch_rows"] + wl.spec["stage_rows"]
    out["ingest.rows_per_s"] = _ratio(round_rows, pass_s)

    tables = [wl.orders, wl.raw, wl.dyn.target]
    out["streaming.log_bytes"] = sum(os.path.getsize(t._log_path) for t in tables)
    live_rows = sum(r[1] for r in facts["states"][facts["head"]])
    live_orders = sum(dir_bytes(d) for d in wl.orders._dirs(0, wl.orders.version))
    bytes_per_row = _ratio(live_orders, live_rows)
    mut_bytes = sum(e.get("bytes", 0) for e in wl.log if e["op"] in ("merge", "update", "delete"))
    out["mutations.bytes_written_per_user_byte"] = _ratio(
        mut_bytes, facts["rows_changed"] * bytes_per_row)
    out["mutations.rows_rewritten_per_row_changed"] = _ratio(
        facts["rows_rewritten"], facts["rows_changed"])
    copy_dir = os.path.join(run.cfg["warehouse"], wl.copy_table)
    live = live_orders + dir_bytes(wl.raw.path) + dir_bytes(wl.dyn.target.path) + dir_bytes(copy_dir)
    stored = dir_bytes(wl.root) + dir_bytes(copy_dir)
    out["ingest.stored_bytes_per_user_byte"] = _ratio(stored, live)
