"""The batch layer pass: one query of each relational ``plans`` module and of
each LLM corpus operator layer, run once over tables generated by
``tpcgen`` and checked against its DuckDB oracle (``registry.ORACLE_SQL``)
with the comparison of ``tools/parity.py``.

Traced runs of every workload end with this pass, so every traced run
measures the batch layers too (``run.cover_other_layers``). It runs cold,
as a nightly batch job would: each query's first execution in the session.
"""

from __future__ import annotations

import os
import random
import sys

import tpcgen

# one query per layer, the cheapest with an oracle where a layer has several
QUERIES = [
    "flagship_customer_activity", "agg_pricing_summary", "join_multiway_revenue",
    "topk_order_revenue", "window_moving_sum", "cf_item_similarity",
    "dedup_winnowing_pairs", "ann_cosine_topk", "pagerank_dupgraph",
    "wordpiece_encode_stats", "text_quality_scores",
]
SCALE = 0.001  # 6000 lineitems, 500 documents and embeddings
# layer = the module a query is registered in; text and corpus functions
# share one layer
LAYER_OF_MODULE = {"text_queries": "text", "corpus_queries": "text"}


def layer(name: str) -> str:
    from fpl_data_pipeline_spark.registry import QUERIES as REGISTERED

    module = REGISTERED[name].__module__
    if module.startswith("fpl_data_pipeline_spark.plans."):
        return "plans." + module.rsplit(".", 1)[-1]
    module = module.rsplit(".", 1)[-1]
    return LAYER_OF_MODULE.get(module, module)


def oracle_mismatches(ctx, data_dir: str, results: dict) -> set[str]:
    """Names whose Spark result differs from the DuckDB oracle (row count,
    sorted columns, dtype class, order-insensitive value hash) or whose
    oracle fails."""
    import duckdb

    import machine

    from parity import dtype_key, normalize, value_hash

    from fpl_data_pipeline_spark.registry import ORACLE_SQL
    from fpl_data_pipeline_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET threads={ctx.nproc}")
    # the Spark JVM keeps its heap: DuckDB gets another quarter of RAM and
    # spills the rest inside the work directory
    con.execute(f"SET memory_limit='{machine.memory_bytes() // 4 // 1048576}MB'")
    con.execute(f"SET temp_directory='{ctx.work('duckdb_tmp')}'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = set()
    for i, (name, got) in enumerate(results.items()):
        try:
            want = con.execute(ORACLE_SQL[name]).fetchdf()
        except duckdb.Error as e:
            print(f"oracle {name} failed: {e}", file=sys.stderr)
            bad.add(name)
            continue
        if ctx.plant_fault and i == 0:
            want = want.iloc[:-1]
        s, o = normalize(got), normalize(want)
        same = (
            len(s) == len(o) and list(s.columns) == list(o.columns)
            and [dtype_key(s[c]) for c in s.columns] == [dtype_key(o[c]) for c in o.columns]
            and value_hash(s) == value_hash(o)
        )
        if not same:
            bad.add(name)
    con.close()
    return bad


def layer_pass(ctx) -> None:
    """Run ``QUERIES`` once in a seeded order, each in a span named after
    its layer; check every answer; add the layers' metrics."""
    from fpl_data_pipeline_spark.registry import QUERIES as REGISTERED

    sys.path.insert(0, os.path.join(ctx.root, "tools"))
    data = tpcgen.write(ctx.seed, SCALE, ctx.work("data"))
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)
    results = {}
    for name in order:
        with ctx.tracer.span(layer(name), request=f"batch-{name}") as span:
            results[name] = REGISTERED[name](ctx.spark, data).toPandas()
        span["rows"] = len(results[name])
    bad = oracle_mismatches(ctx, data, results)
    for name in order:
        ctx.outcome(name not in bad)
    ctx.detail["batch_oracle_mismatches"] = sorted(bad)
    ctx.tracer.resolve_jobs()
    ctx.layers.update(layer_metrics(ctx.tracer))


def layer_metrics(tracer) -> dict:
    """Seconds, jobs, tasks and rows out of each batch layer's spans;
    ``plans.jobs`` and ``plans.tasks`` sum the relational plan modules."""
    out: dict = {}
    for s in tracer.spans:
        if not (s["request"] or "").startswith("batch-"):
            continue
        counts = {"jobs": s.get("jobs", 0), "tasks": s.get("tasks", 0)}
        items = [(s["name"] + ".s", s["end"] - s["start"]), (s["name"] + ".rows", s.get("rows", 0))]
        items += [(f"{s['name']}.{k}", v) for k, v in counts.items()]
        if s["name"].startswith("plans."):
            items += [(f"plans.{k}", v) for k, v in counts.items()]
        for key, val in items:
            out[key] = out.get(key, 0) + val
    return out
