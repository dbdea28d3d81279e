"""Tracing for the traced run: spans around calls into the engine's public
functions, plus Spark's own counters per op.

Everything is measured from outside the engine.  ``LayerPatcher`` swaps
the public functions of a layer for timing wrappers (in the defining
module and in every ``databend_spark`` module that imported the name),
and restores them on ``close``.  ``SparkCounters`` reads the stages of an
op's job group from ``statusStore`` and the SQL metrics of the op's
executions from the SQL status store, both after draining Spark's
listener bus, so every event of the op has reached the stores.  Spans stay in memory and are
written out with the run's detail file.
"""

from __future__ import annotations

import contextlib
import re
import sys
import time
from dataclasses import dataclass, field

# (module, attribute, span name): the public functions each layer is
# timed at.  A method is given as "Class.method".
LAYER_FUNCTIONS = [
    ("databend_spark.session", "get_spark", "session.get_spark"),
    ("databend_spark.session", "register_tables", "session.register_tables"),
    ("databend_spark.operators.dedup", "ngram_jaccard_pairs", "operators.ngram_jaccard_pairs"),
    ("databend_spark.operators.dedup", "minhash_lsh_pairs", "operators.minhash_lsh_pairs"),
    ("databend_spark.operators.similarity", "ivf_build", "operators.ivf_build"),
    ("databend_spark.operators.similarity", "ivf_search", "operators.ivf_search"),
    ("databend_spark.operators.fulltext", "build_inverted_index", "operators.build_inverted_index"),
    ("databend_spark.operators.fulltext", "search_bm25", "operators.search_bm25"),
    ("databend_spark.operators.spatial_join", "points_in_polygons", "operators.points_in_polygons"),
    ("databend_spark.sqlgen", "rewrite_databend_sql", "sqlgen.rewrite"),
    ("databend_spark.sqlgen", "variant_paths_to_struct", "sqlgen.retry"),
    ("databend_spark.sqlgen", "variant_paths_to_json", "sqlgen.retry"),
    ("databend_spark.session", "SessionContext.copy_into", "sources.copy_into"),
    ("databend_spark.streaming.incremental", "VersionedTable._commit", "streaming.commit"),
    ("databend_spark.streaming.incremental", "VersionedTable._dirs", "streaming.dirs"),
    ("databend_spark.streaming.incremental", "VersionedTable.compact", "streaming.compact"),
    ("databend_spark.streaming.incremental", "VersionedTable.vacuum", "streaming.vacuum"),
    ("databend_spark.streaming.incremental", "Stream.consume", "streaming.consume"),
    ("databend_spark.streaming.incremental", "DynamicTable.refresh", "streaming.dyn_refresh"),
    ("databend_spark.operators.mutations", "merge_into", "mutations.merge"),
    ("databend_spark.operators.mutations", "update_table", "mutations.update"),
    ("databend_spark.operators.mutations", "delete_from", "mutations.delete"),
]


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``active`` is False outside traced op
    samples, so wrapped functions cost one attribute check there."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.active = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def subtree(self, root: Span) -> list[Span]:
        """Spans recorded under ``root`` (spans are appended in start
        order, so a subtree is contiguous)."""
        out, ids = [], {root.sid}
        for s in self.spans[root.sid + 1 :]:
            if s.parent not in ids:
                break
            ids.add(s.sid)
            out.append(s)
        return out


class LayerPatcher:
    """Replace each layer function with a span-recording wrapper."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            owner, name = mod, attr
            if "." in attr:
                cls_name, name = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, name)
            wrapped = self._wrap(orig, span_name)
            self._set(owner, name, wrapped)
            if owner is mod:
                # modules that did `from mod import name` hold their own
                # reference; point those at the wrapper too
                for other_name, other in list(sys.modules.items()):
                    if other is mod or not other_name.startswith("databend_spark"):
                        continue
                    if getattr(other, name, None) is orig:
                        self._set(other, name, wrapped)

    def _set(self, owner, name, value) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def _wrap(self, fn, span_name: str):
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span_name) as s:
                out = fn(*args, **kwargs)
                s.attrs["ret"] = out if isinstance(out, (int, float, bool)) else None
                if isinstance(out, list):
                    s.attrs["len"] = len(out)
                return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", span_name)
        return wrapper

    def close(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


# -- Spark's own counters -----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_NUM_UNIT = re.compile(r"(-?[0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Value of one SQL metric as the status store formats it: ``12,919``,
    ``221.9 KiB``, ``1.2 s`` or ``total (min, med, max ...)\\n940 ms (...)``.
    Sizes come back in bytes, timings in seconds."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


class SparkCounters:
    """Per-op job, stage and SQL-metric totals from Spark's status stores.

    Call ``mark`` right before an op sample and read the totals right
    after it: the SQL metrics then cover the executions started in
    between that ran jobs of the op's job group (or ran no job at all)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._bus = self.sc._jsc.sc().listenerBus()
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.mark()

    def drain(self) -> None:
        """Wait until the status stores have seen every event posted so far."""
        self._bus.waitUntilEmpty()

    def mark(self) -> None:
        """Start a new window: executions up to now are not the next op's."""
        self.drain()
        n = int(self._sql.executionsCount())
        last = self._conv.asJava(self._sql.executionsList(max(0, n - 1), 1)) if n else []
        self.last_exec_id = max((int(e.executionId()) for e in last), default=-1)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = dict.fromkeys(
            ["jobs", "stages", "tasks", "task_busy_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "scan_bytes", "scan_rows"], 0.0)
        tot["jobs"] = float(len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in self._conv.asJava(
                    self._store.stageData(sid, False, self._empty, False, self._quantiles)
                ):
                    if str(sd.status().toString()) == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += sd.numCompleteTasks()
                    tot["task_busy_s"] += sd.executorRunTime() / 1000.0
                    tot["gc_s"] += sd.jvmGcTime() / 1000.0
                    tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    tot["scan_bytes"] += sd.inputBytes()
                    tot["scan_rows"] += sd.inputRecords()
        return tot

    def sql_totals(self, job_ids: list[int]) -> dict[str, float]:
        """SQL metrics of the executions since ``mark`` whose jobs are
        among ``job_ids``; an execution that ran no job counts too."""
        tot = dict.fromkeys(
            ["executions", "files_read", "broadcasts", "python_eval_s",
             "python_eval_rows", "join_output_rows"], 0.0)
        group = set(job_ids)
        n = int(self._sql.executionsCount())
        recent = self._conv.asJava(self._sql.executionsList(max(0, n - 256), 256))
        for e in recent:
            eid = int(e.executionId())
            jobs = {int(j) for j in self._conv.asJava(e.jobs()).keySet()}
            if eid <= self.last_exec_id or (jobs and not jobs & group):
                continue
            tot["executions"] += 1
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            graph = self._sql.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                name = str(node.name())
                if name.startswith("BroadcastExchange"):
                    tot["broadcasts"] += 1
                python = bool(_PYTHON_NODE.search(name))
                join = "Join" in name
                for m in self._conv.asJava(node.metrics()):
                    mname = str(m.name())
                    text = values.get(m.accumulatorId())
                    if mname == "number of files read":
                        tot["files_read"] += parse_metric(text)
                    elif python and str(m.metricType()) == "timing":
                        tot["python_eval_s"] += parse_metric(text)
                    elif python and mname == "number of output rows":
                        tot["python_eval_rows"] += parse_metric(text)
                    elif join and mname == "number of output rows":
                        tot["join_output_rows"] += parse_metric(text)
        return tot
