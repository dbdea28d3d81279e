"""Self-tests of the benchmark (not of the engine).

    python3 perfbench/selftest.py

1. Smoke: every workload (also ``olap_sf01``, which ``BENCHMARK.json``
   does not list), untraced and traced, on the sf0.001 base tables; each
   result must be correct and carry exactly the metric names and units
   ``BENCHMARK.json`` lists.
2. Determinism: the same seed gives byte-identical ``ingest_cdc`` inputs
   and the same op order; another seed gives different ones.
3. A deliberately wrong expected hash is reported as a failed, named op.

Exits 0 when every check passes.  Takes a few minutes (one Spark process
per smoke run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]
SMOKE = ["--scale", "0.001", "--seconds", "2"]


def _run(args: list[str]) -> dict:
    """Run the benchmark; returns its last stdout line parsed."""
    proc = subprocess.run(RUN + args, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=300)
    if proc.returncode != 0:
        raise AssertionError(f"{args}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_smoke(bench: dict, failures: list[str]) -> None:
    from perfbench.run import WORKLOADS

    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            res = _run(["--workload", name, "--seed", "1", "--trace", str(trace)] + SMOKE)
            tag = f"smoke {name} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(res)}")
                continue
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} or units differ")
            if any(not isinstance(v.get("value"), (int, float)) for v in res["metrics"].values()):
                failures.append(f"{tag}: a metric value is not a number")
            print(f"ok   {tag}", file=sys.stderr)


def check_determinism(failures: list[str]) -> None:
    from perfbench import gen
    from perfbench.measure import Run

    base = gen.ensure_base(os.path.join(ROOT, ".perfbench", "data"), 0.001)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as tmp:
        digests = []
        for i, seed in enumerate((5, 5, 6)):
            out = os.path.join(tmp, str(i))
            gen.ingest_inputs(base, out, seed)
            digests.append(gen.digest(out))
    if digests[0] != digests[1]:
        failures.append("ingest inputs differ for the same seed")
    if digests[0] == digests[2]:
        failures.append("ingest inputs equal for different seeds")
    ops = list(range(20))
    a, b, c = (Run({"workload": "olap_sf01", "seed": s, "trace": 0}) for s in (5, 5, 6))
    if [a._order(ops, p) for p in range(3)] != [b._order(ops, p) for p in range(3)]:
        failures.append("op order differs for the same seed")
    if a._order(ops, 0) == c._order(ops, 0):
        failures.append("op order equal for different seeds")
    print("ok   determinism", file=sys.stderr)


def check_wrong_hash(failures: list[str]) -> None:
    res = _run(["--workload", "olap_sf01", "--seed", "1", "--corrupt-expected", "tpch_q6"] + SMOKE)
    detail = os.path.join(ROOT, ".perfbench", "results", "olap_sf01-sf0.001-seed1-trace0.json")
    with open(detail) as fh:
        named = [f for f in json.load(fh)["failures"] if f.startswith("tpch_q6")]
    if res["correct"] or res["failed"] != 1 or not named:
        failures.append(f"wrong expected hash not reported: {res['failed']} failed, {named}")
    print("ok   wrong expected hash is a named failure", file=sys.stderr)


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    failures: list[str] = []
    check_determinism(failures)
    check_wrong_hash(failures)
    check_smoke(bench, failures)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    print(f"{'FAILED' if failures else 'passed'}: {len(failures)} failure(s)", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
