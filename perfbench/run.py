"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload etl_weekly --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The engine is imported from the checkout
itself (``fpl_data_pipeline_spark/``); the inputs are generated from
``--seed`` under ``.perfbench_work/`` and removed at exit. Each run prints
one line per metric, then a detail line (workload facts, session sizing,
machine state), and as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``op_median_s``,
``setup_s``); with ``--trace 1`` the per-layer ones of ``BENCHMARK.json``,
measured by the workload and by the batch layer pass that ends every
traced run (``batch.py``), and the spans go to ``.perfbench_out/``.
``failed / attempted`` is the failed
fraction: a wrong output counts as failed. ``--size tiny`` and
``--plant-fault`` serve the self-test (``perfbench/selftest.py``).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import fpl  # noqa: E402
import machine  # noqa: E402

WORKLOADS = ("etl_weekly", "dashboard")


class Context:
    """What a workload sees: the session, the tracer, its work directory,
    and the accumulators for operations, checks and metrics."""

    def __init__(self, args, root: str, spark, tracer) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.tiny, self.plant_fault = args.size == "tiny", args.plant_fault
        self.root, self.spark, self.tracer = root, spark, tracer
        self.nproc = machine.nproc()
        self.workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.setup_s = 0.0
        self.attempted = self.failed = 0
        self.op_median: float | None = None
        self.op_cpu: float | None = None
        self.detail: dict = {}
        self.layers: dict = {}
        self._window = None
        self._probe = None

    def size(self, full, tiny):
        return tiny if self.tiny else full

    def work(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        os.makedirs(path, exist_ok=True)
        return path

    @contextmanager
    def setup_step(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        dt = time.perf_counter() - t0
        self.setup_s += dt
        self.layers[f"{name}_s"] = self.layers.get(f"{name}_s", 0.0) + dt

    def start_window(self) -> None:
        if self.tracer.enabled:
            from spans import RuntimeProbe

            self._probe = RuntimeProbe(self.spark, self.nproc)
            self._probe.start()
        self._window = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self._window

    def stop_window(self) -> None:
        self.detail["window_s"] = self.elapsed()
        if self._probe is not None:
            self.layers.update(self._probe.stop())

    def cpu(self) -> float:
        """CPU seconds used so far by this process, its JVM and workers."""
        return machine.cpu_seconds(machine.process_tree())

    def outcome(self, ok: bool) -> None:
        """Count one timed operation, or one check outside them."""
        self.attempted += 1
        self.failed += not ok


def engine_importable(root: str) -> bool:
    sys.path.insert(0, root)
    # Python workers that Spark starts must import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    try:
        import fpl_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return False
    return True


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers,
    which exit with it) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def tracing_overhead(out_dir: str, args, traced: float) -> float | None:
    """Traced minus untraced ``op_median_s``, against the newest untraced
    record of the same workload, size and window in ``out_dir`` (None when
    there is none)."""
    records = sorted(glob.glob(os.path.join(out_dir, f"{args.workload}-trace0-*.json")),
                     key=os.path.getmtime, reverse=True)
    for path in records:
        with open(path) as f:
            rec = json.load(f)
        if rec["size"] == args.size and rec["seconds"] == args.seconds:
            return traced - rec["metrics"]["op_median_s"]["value"]
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-fault", action="store_true",
                    help="check against a wrong expected answer (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not engine_importable(root):
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sizing = machine.size_session_env()
    state = machine.MachineState()
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)

    t_run = time.perf_counter()
    from fpl_data_pipeline_spark import get_spark
    from fpl_data_pipeline_spark.registry import load_all

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from spans import Tracer

    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    ctx = Context(args, root, spark, tracer)
    try:
        t0 = time.perf_counter()
        with tracer.span("registry.load_all"):
            load_all()
        load_s = time.perf_counter() - t0
        ctx.setup_s += session_s + load_s
        getattr(fpl, args.workload)(ctx)
        if tracer.enabled:
            batch.layer_pass(ctx)
        peak_rss = machine.peak_rss_mb(machine.process_tree())
        tracer.unwrap_all()
        if tracer.enabled:
            tracer.resolve_jobs()
            ctx.layers["executor.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in tracer.spans)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"), t_run)
    finally:
        stop_spark(spark)
        shutil.rmtree(ctx.workdir, ignore_errors=True)

    ctx.layers.update({"session.start_s": session_s, "registry.load_s": load_s,
                       "trace.op_median_s": ctx.op_median, "trace.op_cpu_s": ctx.op_cpu,
                       "peak_rss_mb": peak_rss})
    ctx.detail.update({"op_cpu_s": ctx.op_cpu, "peak_rss_mb": peak_rss})
    if args.trace:
        metrics = {m["name"]: {"value": ctx.layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        overhead = tracing_overhead(out_dir, args, ctx.op_median)
        if overhead is not None:
            ctx.detail["tracing_overhead_s"] = overhead
    else:
        values = {"op_median_s": ctx.op_median, "setup_s": ctx.setup_s}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
              "failed": ctx.failed, "metrics": metrics}
    record = {**result, "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "size": args.size, "failed_frac": ctx.failed / ctx.attempted,
              "session": sizing, "machine": state.record(), "detail": ctx.detail,
              "layers": ctx.layers}
    with open(os.path.join(out_dir, f"{args.workload}-trace{args.trace}-seed{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for name, m in metrics.items():
        print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac {record['failed_frac']:.6g} failed/attempted")
    print("detail " + json.dumps({k: v for k, v in record.items() if k not in result and k != "layers"}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
