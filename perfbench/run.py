"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_ops --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository.  The launcher

1. builds the inputs the first time (base tables, DuckDB expected
   results) under ``.perfbench/data/`` of the checkout;
2. generates the run's seeded inputs and a clean per-run directory for
   Spark's local dirs, warehouse and tables under ``.perfbench/runs/``;
3. measures in a fresh process (its own JVM), with ``SPARK_GRAFT_CPUS``
   set to the usable CPUs and the driver heap below physical memory;
4. prints one JSON line with ``correct``, ``attempted``, ``failed`` and
   ``metrics`` as the last line of stdout, and writes the run's details
   (per-op samples, steal, failures, spans) to ``.perfbench/results/``.

Everything else the run prints goes to stderr, at file-descriptor level,
so native writes cannot reach the result stream.  Exit code 0 means the
run completed (``correct`` says whether outputs matched); any other code
means no result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("olap_sf01", "llm_ops", "ingest_cdc")
CHILD_TIMEOUT_S = 165.0  # a run must end within 180 s


@contextlib.contextmanager
def stdout_to_stderr():
    """Point file descriptor 1 at stderr for the duration."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


# The engine's 48g default exceeds small machines.  sf0.1 fits in 1 GiB,
# and with the heap that small the JVM's peak RSS repeated within 5%
# between runs (2-4 GiB heaps: 11-25%, and slower passes).
DRIVER_MEM = "1g"


def _wait_group_gone(pgid: int, timeout: float) -> None:
    """SIGKILL whatever is left of the child's process group and wait
    until it is empty."""
    deadline = time.time() + timeout
    with contextlib.suppress(ProcessLookupError):
        os.killpg(pgid, signal.SIGKILL)
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def launch(args) -> dict | None:
    from perfbench import gen, oracle, workloads

    work = os.path.join(ROOT, ".perfbench")
    data_dir = gen.ensure_base(os.path.join(work, "data"), args.scale)
    expected = {}
    if args.workload in workloads.QUERY_WORKLOADS:
        ops = sorted({op for ops in workloads.QUERY_WORKLOADS.values() for op in ops})
        expected = oracle.expected_results(data_dir, ops)
        for name in args.corrupt_expected:
            expected[name] = {**expected[name], "kind": "hash", "hash": "0" * 64}

    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "local"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "data_dir": data_dir,
            "expected": expected,
            "inputs_dir": os.path.join(run_dir, "inputs"),
            "table_root": os.path.join(run_dir, "tables"),
            "warehouse": os.path.join(run_dir, "spark-warehouse"),
        }
        if args.workload == "ingest_cdc":
            gen.ingest_inputs(data_dir, cfg["inputs_dir"], args.seed)
        env = dict(os.environ)
        env.pop("OMP_NUM_THREADS", None)
        tmp = os.path.join(run_dir, "tmp")
        jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
            # temporary files of Python, the launcher JVM and the driver
            # JVM stay inside the run dir
            TMPDIR=tmp,
            SPARK_LAUNCHER_OPTS=" ".join(filter(None, [env.get("SPARK_LAUNCHER_OPTS"), jvm_tmp])),
            SPARK_SUBMIT_OPTS=" ".join(filter(None, [env.get("SPARK_SUBMIT_OPTS"), jvm_tmp])),
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        )
        cfg_path = os.path.join(run_dir, "config.json")
        cfg["spawn_time"] = time.time()
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--child", cfg_path],
            cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=2, stderr=2,
            start_new_session=True,
        )
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S:.0f} s; stopped", file=sys.stderr)
            code = None
        finally:
            _wait_group_gone(child.pid, 10.0)
            child.wait()
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: measuring process exited with {code}", file=sys.stderr)
            return None
        with open(result_path) as fh:
            result = json.load(fh)
        results = os.path.join(work, "results")
        os.makedirs(results, exist_ok=True)
        detail = os.path.join(
            results, f"{args.workload}-sf{args.scale:g}-seed{args.seed}-trace{args.trace}.json")
        shutil.copyfile(os.path.join(run_dir, "detail.json"), detail)
        print(f"perfbench: details in {os.path.relpath(detail, ROOT)}", file=sys.stderr)
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def parse(argv: list[str]):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="base-table scale factor (0.001 for the smoke test)")
    ap.add_argument("--corrupt-expected", action="append", default=[],
                    help="self-test: replace this op's expected hash with a wrong one")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.child and (args.workload is None or args.seconds <= 0):
        ap.error("--workload and a positive --seconds are required")
    return args


def main(argv: list[str]) -> int:
    args = parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.child:
        from perfbench import measure

        return measure.main(args.child)
    if not os.path.isfile(os.path.join(ROOT, "databend_spark", "session.py")):
        print("perfbench: engine sources (databend_spark/) not found in the checkout",
              file=sys.stderr)
        return 2
    with stdout_to_stderr():
        result = launch(args)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
