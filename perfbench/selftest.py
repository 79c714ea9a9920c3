"""Tiny-size self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py [workload ...]

For each workload (default: both) it runs ``run.py --size tiny`` with
checks on and requires a correct result line with every end-to-end metric
of ``BENCHMARK.json``. It then plants a wrong expected answer and requires
the failure to be counted, requires traced runs to print every per-layer
metric of ``BENCHMARK.json`` and write their spans, requires a planted
wrong oracle answer in the traced batch layer pass to be counted, and
requires the benchmark to fail without a result where the engine is
missing. Exits 0 when every step passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def bench(workload: str, *extra: str, cwd: str | None = None) -> tuple[int, dict | None, dict]:
    """Exit code, result line (None when there is none) and detail line."""
    run = os.path.join("perfbench", "run.py") if cwd else RUN
    cmd = [sys.executable, run, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    detail = next((json.loads(x[7:]) for x in lines if x.startswith("detail ")), {})
    if proc.returncode and cwd is None:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result, detail


def main(argv: list[str]) -> int:
    workloads = argv or list(WORKLOADS)
    failures = []
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    per_layer = {m["name"] for m in spec["per_layer"]}

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in workloads:
        code, res, _ = bench(w, "--trace", "0")
        expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0
               and res["attempted"] >= 1 and set(res["metrics"]) == end_to_end
               and all(m["value"] > 0 for m in res["metrics"].values()),
               f"{w}: correct result with every end-to-end metric")

    for w in workloads:
        code, res, _ = bench(w, "--trace", "0", "--plant-fault")
        expect(code == 0 and res is not None and res["failed"] > 0 and not res["correct"],
               f"{w}: a planted wrong answer counts as failed")

    for w in workloads:
        code, res, _ = bench(w, "--trace", "1")
        spans = os.path.join(".perfbench_out", f"spans-{w}-seed7.jsonl")
        expect(code == 0 and res is not None and res["correct"] and set(res["metrics"]) == per_layer
               and os.path.getsize(spans) > 0,
               f"{w}: traced run prints every per-layer metric and writes spans")

    code, res, detail = bench(workloads[0], "--trace", "1", "--plant-fault")
    expect(code == 0 and res is not None and not res["correct"]
           and detail.get("detail", {}).get("batch_oracle_mismatches"),
           f"{workloads[0]}: a planted wrong oracle answer in the batch layer pass counts as failed")

    with tempfile.TemporaryDirectory() as bare:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, res, _ = bench(workloads[0], cwd=bare)
        expect(code != 0 and res is None, "only BENCHMARK.json and perfbench/: non-zero exit, no result")

    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
