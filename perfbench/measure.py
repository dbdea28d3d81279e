"""The measuring process: one fresh Python process (and JVM) per run.

Phases, in order:

1. set-up, once, cold: from process start (interpreter, imports, JVM
   and session) until the tables are registered and one warm-up op is
   done.  That is ``setup_s``.
2. check: every op once, untimed, with its output compared against the
   expected result (``ingest_cdc``: two untimed warm-up rounds, verified
   with the rest at the end).  This also warms each op's code paths.
3. timed passes over the op list in a seeded order for ``--seconds``,
   at least one whole pass.  Query workloads stop sampling at the
   deadline, mid-pass if need be; ``ingest_cdc`` runs whole rounds while
   another round fits.  In a traced run each query op also runs traced
   (back to back with its untraced sample) and ``ingest_cdc`` rounds
   alternate traced and untraced, so the tracing overhead is measured in
   the same process.

The result is written as JSON to ``result.json`` in the working
directory; the launcher prints it.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import telemetry

# A query sample (an ingest round) during which the hypervisor stole more
# than this share of CPU time is marked and taken again (a query sample
# at most twice; both only within twice the run length): the burst is
# another guest's load, not the engine's.
STEAL_LIMIT_PCT = 5.0
STEAL_RETRIES = 2
# ingest rounds keep getting faster for about two rounds after the first
INGEST_WARMUP_ROUNDS = 2
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.name = cfg["workload"]
        self.seed = int(cfg["seed"])
        self.trace = bool(cfg["trace"])
        self.samples: list[dict] = []
        self.passes: list[dict] = []
        self.failures: list[str] = []  # named, one or more per failed attempt
        self.attempted = 0
        self.failed = 0
        self.setup_times: dict[str, float] = {}
        self.tracer = None
        self.patcher = None
        self.counters = None
        self.op_layers: dict[str, list[dict]] = {}

    # -- phase 1 -------------------------------------------------------------
    def setup(self) -> None:
        if self.trace:
            from perfbench.tracing import LayerPatcher, Tracer

            self.tracer = Tracer()
            self.patcher = LayerPatcher(self.tracer)
            self.patcher.install()
        from databend_spark import session

        with self._traced("setup"):
            g0 = time.time()
            self.spark = session.get_spark(f"perfbench-{self.name}")
            self.spark.sparkContext.setLogLevel("ERROR")
            g1 = time.time()
            self.workload = self._make_workload()
            self.workload.setup()
            t1 = time.time()
        t0 = self.cfg["spawn_time"]
        self.setup_times = {"setup_s": t1 - t0, "start_s": g0 - t0, "get_spark_s": g1 - g0,
                            "tables_and_warmup_s": t1 - g1}
        if self.trace:
            from perfbench.tracing import SparkCounters

            self.counters = SparkCounters(self.spark)

    @contextlib.contextmanager
    def _traced(self, name: str, **attrs):
        """A root span with the tracer on; nothing in an untraced run."""
        if self.tracer is None:
            yield None
            return
        self.tracer.active = True
        try:
            with self.tracer.span(name, **attrs) as span:
                yield span
        finally:
            self.tracer.active = False

    def _make_workload(self):
        from perfbench import workloads

        if self.name == "ingest_cdc":
            with open(os.path.join(self.cfg["inputs_dir"], "plan.json")) as fh:
                plan = json.load(fh)
            return workloads.IngestWorkload(
                self.spark, self.cfg["inputs_dir"], plan, self.cfg["table_root"])
        return workloads.QueryWorkload(
            self.spark, self.name, self.cfg["data_dir"], self.cfg["expected"])

    # -- phase 2 -------------------------------------------------------------
    def check(self) -> None:
        if self.name == "ingest_cdc":
            for r in range(INGEST_WARMUP_ROUNDS):
                self._round(r, timed=False, traced=False)
            return
        self.result_rows: dict[str, int] = {}
        for op in self.workload.ops:
            self.attempted += 1
            try:
                err, n = self.workload.check(op)
                self.result_rows[op] = n
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                err = f"raised {type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc()
            if err:
                self.failed += 1
                self.failures.append(f"{op}: {err}")

    # -- phase 3 -------------------------------------------------------------
    def timed(self, seconds: float) -> None:
        start = time.perf_counter()
        deadline = start + seconds
        self.retake_until = start + 2 * seconds
        p = kept = 0
        while True:
            t0 = time.perf_counter()
            if self.name == "ingest_cdc":
                # rounds are stateful: whole rounds only, traced and
                # untraced rounds alternate; a round hit by a steal burst
                # is marked and followed by another
                traced = self.trace and kept % 2 == 1
                r = INGEST_WARMUP_ROUNDS + p
                samples = self._round(r, timed=True, traced=traced)
                ticks = sum(s["total_ticks"] for s in samples)
                stolen = 100.0 * sum(s["steal_ticks"] for s in samples) / ticks if ticks else 0.0
                if not traced and stolen > STEAL_LIMIT_PCT and time.perf_counter() < self.retake_until:
                    for s in samples:
                        s["discarded"] = True
                else:
                    self._add_pass(p, traced, samples, round=r)
                    kept += 1
                p += 1
                last = time.perf_counter() - t0
                if kept >= (2 if self.trace else 1) and time.perf_counter() + last > deadline:
                    break
            else:
                # after one whole pass, sampling stops at the deadline even
                # mid-pass; only whole passes count towards pass_s
                samples, whole = self._query_pass(p, deadline if p else None)
                self._add_pass(p, False, [s for s in samples if not s["traced"]], whole=whole)
                if self.trace:
                    self._add_pass(p, True, [s for s in samples if s["traced"]], whole=whole)
                p += 1
                if time.perf_counter() >= deadline:
                    break

    def _add_pass(self, p: int, traced: bool, samples: list[dict], **extra) -> None:
        self.passes.append({"pass": p, "traced": traced, **extra,
                            "pass_s": sum(s["t"] for s in samples),
                            "ok": all(s["ok"] for s in samples)})

    def _order(self, items: list, p: int) -> list:
        order = list(items)
        random.Random(self.seed * 1_000_003 + p).shuffle(order)
        return order

    def _query_pass(self, p: int, deadline: float | None) -> tuple[list[dict], bool]:
        """One sample per op, stopping early once ``deadline`` passed; in a
        traced run each op also runs traced, the two back to back with
        alternating order, so both are equally warm.  Returns the samples
        and whether the pass is whole."""
        out = []
        for i, op in enumerate(self._order(self.workload.ops, p)):
            if deadline is not None and time.perf_counter() >= deadline:
                return out, False
            modes = [False, True] if self.trace else [False]
            if (p + i) % 2:
                modes.reverse()
            for traced in modes:
                for retry in range(STEAL_RETRIES + 1):
                    rec = self._sample(op, p, traced, lambda op=op, t=traced: self._run_query(op, t))
                    if (traced or rec["steal_pct"] <= STEAL_LIMIT_PCT or retry == STEAL_RETRIES
                            or time.perf_counter() > self.retake_until):
                        break
                    rec["discarded"] = True
                out.append(rec)
        return out, True

    def _run_query(self, op: str, traced: bool) -> None:
        if traced:
            self.workload.run_traced(op, self.tracer)
        else:
            self.workload.run(op)

    def _round(self, r: int, timed: bool, traced: bool) -> list[dict]:
        from perfbench.workloads import INGEST_UNITS

        wl = self.workload
        wl.begin_round(r)
        ops = [op for unit in self._order(INGEST_UNITS, r) for op in unit] + ["compact"]
        out = []
        for op in ops:
            entry = {"op": op, "round": r}
            s = self._sample(op, r, traced, lambda op=op: entry.__setitem__("out", wl.run(op)),
                             timed=timed)
            if s is not None:
                out.append(s)
            if "out" not in entry:
                continue  # the failure is recorded; the replay skips it
            if op == "copy_into":
                entry["recopy"] = wl.recopy()
            if op in ("merge", "update", "delete"):
                entry["bytes"] = wl.last_commit_bytes()
            wl.log.append(entry)
        return out

    def _sample(self, op: str, p: int, traced: bool, fn, timed: bool = True) -> dict | None:
        """Run one op sample; returns its record (None when untimed)."""
        self.attempted += 1
        group = f"{op}#{p}"
        sc = self.spark.sparkContext
        if traced:
            self.counters.mark()
            sc.setJobGroup(group, op)
        ok = True
        with self._traced("op", op=op, p=p) if traced else contextlib.nullcontext() as span:
            tick0 = telemetry.cpu_ticks()
            t0 = time.perf_counter()
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - an op failure is a result
                ok = False
                self.failed += 1
                self.failures.append(f"{op} (pass {p}): raised {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc()
            t = time.perf_counter() - t0
            tick1 = telemetry.cpu_ticks()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._op_layers(op, span, group)
        if not timed:
            return None
        dt = tick1[0] - tick0[0]
        rec = {"op": op, "pass": p, "t": t, "ok": ok, "traced": traced,
               "steal_ticks": tick1[1] - tick0[1], "total_ticks": dt,
               "steal_pct": 100.0 * (tick1[1] - tick0[1]) / dt if dt > 0 else -1.0}
        self.samples.append(rec)
        return rec

    def _op_layers(self, op: str, span, group: str) -> None:
        from perfbench.layers import op_layer_metrics

        self.counters.drain()
        jobs = self.counters.job_ids(group)
        stages = self.counters.stage_totals(jobs)
        sql = self.counters.sql_totals(jobs)
        self.op_layers.setdefault(op, []).append(
            op_layer_metrics(span, self.tracer.subtree(span), stages, sql))

    # -- results -------------------------------------------------------------
    def end_to_end(self) -> dict:
        untraced = [s for s in self.samples if not s["traced"] and not s.get("discarded")]
        by_op: dict[str, list[float]] = {}
        for s in untraced:
            by_op.setdefault(s["op"], []).append(s["t"])
        times = sorted(s["t"] for s in untraced)
        op_medians = [_median(v) for v in by_op.values()]
        return {
            "setup_s": self.setup_times["setup_s"],
            # the median pass, op by op: robust to the first, still-warming
            # pass and uses the samples of a pass cut at the deadline
            "pass_s": sum(op_medians),
            "op_geomean_s": _geomean(op_medians),
            "peak_rss_mb": telemetry.peak_rss_mb(os.getpid()),
            # detail only: a run holds too few samples of ops whose
            # latencies differ 5x, so pooled percentiles jump between ops
            "op_p50_s": _median(times),
            "op_samples": len(times),
            "op_p90_s": statistics.quantiles(times, n=10)[-1] if len(times) > 1 else 0.0,
            "op_samples_beyond_p90": len(times) // 10,
            "pass_whole_median_s": _median([p["pass_s"] for p in self.passes
                                            if not p["traced"] and p.get("whole", True)]),
            "op_median_s": {op: _median(v) for op, v in sorted(by_op.items())},
        }


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": sys.version.split()[0],
    }


def main(cfg_path: str) -> int:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    run = Run(cfg)
    machine = {
        "nproc": os.cpu_count(),
        "mem_total_mb": telemetry.mem_total_mb(),
        "loadavg_start": telemetry.loadavg(),
        "seed": run.seed,
    }
    phases = {}
    run.setup()
    machine.update(_versions(run.spark))
    t = time.time()
    run.check()
    phases["check_s"] = time.time() - t
    t = time.time()
    run.timed(float(cfg["seconds"]))
    phases["timed_s"] = time.time() - t
    t = time.time()
    facts = {}
    if run.name == "ingest_cdc":
        errs, facts = run.workload.verify()
        run.attempted += 1
        run.failed += bool(errs)
        run.failures.extend(errs)
    phases["verify_s"] = time.time() - t
    e2e = run.end_to_end()
    if run.trace:
        from perfbench.layers import run_layer_metrics

        metrics = run_layer_metrics(run, facts)
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": run.failed == 0 and not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    detail = {
        "workload": run.name,
        "trace": run.trace,
        "machine": machine,
        "phases": phases,
        "end_to_end": e2e,
        "failures": run.failures,
        "setup": run.setup_times,
        "passes": run.passes,
        "samples": run.samples,
        "peak_rss_by_process": telemetry.peak_rss_by_process(os.getpid()),
        "samples_with_steal": sum(1 for s in run.samples if s["steal_ticks"] > 0),
        "samples_retaken_for_steal": sum(1 for s in run.samples if s.get("discarded")),
    }
    if run.trace:
        detail["op_layers"] = run.op_layers
        detail["spans"] = [vars(s) for s in run.tracer.spans]
    with open("detail.json", "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    with open("result.json", "w") as fh:
        json.dump(result, fh)
    if run.patcher is not None:
        run.patcher.close()
    run.spark.stop()
    return 0
