"""Round-12 optimization measurement harness.

Times named queries (default: the bench HEADLINE set) in isolation with the
noop sink (guide §1.4 — computes every column, no optimizer count-pruning,
no sink cost) AND with the bench's own .count() action (comparability with
BENCH_r*.json), and writes `.explain("formatted")` to plans/r12/.

Usage:
  python tools/measure_r12.py [--tag before|after] [--reps 3] [name ...]
  SPARK_GRAFT_SF_DIR overrides the data dir (default /root/testdata/sf0.1).

Results append to plans/r12/measurements_<tag>.json keyed by query name so
interrupted sessions lose nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fpl_data_pipeline_spark import get_spark
from fpl_data_pipeline_spark.registry import QUERIES, load_all


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    names = args.names
    if not names:
        import bench

        names = [n for n in bench.HEADLINE if n in QUERIES]

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12"
    )
    os.makedirs(plans_dir, exist_ok=True)
    out_path = os.path.join(plans_dir, f"measurements_{args.tag}.json")
    results: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)

    spark = get_spark("measure_r12")
    spark.sparkContext.setLogLevel("ERROR")
    # warm-up: JVM + parquet footers
    QUERIES["topk_basic"](spark, sf_dir).count()

    for name in names:
        if name not in QUERIES:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = QUERIES[name](spark, sf_dir)
        if not args.no_plans:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"r12 {args.tag} {name}")
        # construction INSIDE the timed region, like bench.py: eager
        # localCheckpoints and .count() pre-passes run at construction time
        # and are part of the query's real cost
        noop_ts, count_ts = [], []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            noop_ts.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            count_ts.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        results[name] = {
            "noop_median": round(statistics.median(noop_ts), 3),
            "count_median": round(statistics.median(count_ts), 3),
            "noop_raw": [round(t, 3) for t in noop_ts],
            "count_raw": [round(t, 3) for t in count_ts],
        }
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(
            f"{name}: noop {results[name]['noop_median']}s "
            f"count {results[name]['count_median']}s"
        )

    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
