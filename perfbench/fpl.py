"""The two FPL workloads: ``etl_weekly`` (the write path) and ``dashboard``
(the read path). Both drive the engine only through ``run_pipeline`` and
the ``plans.fpl_queries`` functions, over landing zones from ``fplgen``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import machine
from fplgen import Season

# Full size: the reference's 631 players over a 38-week season. The ETL
# warm-up builds the weeks before the timed week in one run; the timed run
# lands that week, the same week on every commit (later weeks read more
# history). One timed run (about 11 s on 4 quiet cores) is what a run of
# the benchmark can afford: the warm-up build and the JVM start take twice
# that.
#
# Dashboard rate: one view a second. A `/` view takes about 2 s and a
# `/layout` view 1 s when they overlap, together about 3 CPU-seconds a view
# on 4 cores, so the 3 workers never queue (queue wait stays in
# milliseconds) and the offered load stays below saturation. At a view every
# 2 s the views barely overlap, yet on a shared 4-core host the figure spread
# more over seeds (0.20 of the median against 0.11): most of the spread is
# between runs, and fewer views in a run average less of it.
FULL = {"players": 631, "weeks": 38, "timed_week": 34, "rate": 1.0}
TINY = {"players": 12, "weeks": 5, "timed_week": 3, "rate": 1.0}
WARMUP_ROUNDS = 3  # dashboard: concurrent (/, /layout) pairs before timing

TABLES = ("team_dm", "player_dm", "player_week_ft", "player_stats_dm", "week_info_dm")


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """{file path: (size, inode)} under ``path`` (data files only)."""
    out = {}
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            fp = os.path.join(root, fn)
            st = os.stat(fp)
            out[fp] = (st.st_size, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after and new or replaced since before."""
    new = [fp for fp, v in after.items() if before.get(fp) != v]
    return len(new), sum(after[fp][0] for fp in new)


def table_state_hash(spark, wh: str) -> tuple:
    """Order-insensitive state of every warehouse table: row count and the
    sum of per-row 64-bit hashes (as an exact decimal, so no overflow)."""
    import pyspark.sql.functions as F

    state = []
    for t in TABLES:
        df = spark.read.parquet(os.path.join(wh, t))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        ).first()
        state.append((t, row["n"], str(row["h"])))
    return tuple(state)


def _norm_detail(records: list[dict]) -> list[dict]:
    def val(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        return float(v)

    keys = ("id", "total_points", "sum_bps", "gw_1", "gw_2", "gw_3", "avg_4_weeks")
    return [{k: val(r[k]) for k in keys} for r in records]


class Dashboard:
    """The reference's two Flask routes over a warehouse directory.

    ``/`` is ``dashboard_payload``; ``/layout`` is ``sql_stats_key_pass`` and
    ``sql_stats_shots``, collected. Every view re-reads the tables, as the
    reference re-queries Postgres per request, so a view sees the latest
    published state."""

    def __init__(self, spark, wh: str, tracer, expected: dict) -> None:
        from fpl_data_pipeline_spark.plans import fpl_queries

        self.q = fpl_queries
        self.spark, self.wh, self.tracer = spark, wh, tracer
        self.expected = expected

    def _read(self, *tables):
        with self.tracer.span("fpl_queries.read"):
            return [self.spark.read.parquet(os.path.join(self.wh, t)) for t in tables]

    def view(self, route: str) -> bool:
        """Serve one page; True when it matches the expected answer."""
        if route == "home":
            got = self.q.dashboard_payload(*self._read("player_dm", "team_dm", "player_week_ft"))
            exp = self.expected["home"]
            return all(got[k] == exp[k] for k in ("graph_lab", "graph_val", "graph_lab_val", "graph_val_val")) and (
                _norm_detail(got["ply_data_detail"]) == _norm_detail(exp["ply_data_detail"])
            )
        (stats,) = self._read("player_stats_dm")
        key_pass = self.q.sql_stats_key_pass(stats).toPandas()
        shots = self.q.sql_stats_shots(stats).toPandas()
        exp = self.expected["layout"]
        return (
            list(zip(key_pass.full_name, key_pass.key_pass.astype(int))) == exp["key_pass"]
            and list(zip(shots.full_name, shots.shots.astype(int))) == exp["shots"]
        )

    def open_loop(self, routes: list[str], rate: float, workers: int) -> list[dict]:
        """Issue ``routes`` at ``rate`` per second on a fixed schedule,
        whatever the backlog; a pool of ``workers`` threads serves them.
        Each request is timed from its due time."""
        results: list[dict] = []
        lock = threading.Lock()

        def serve(i: int, route: str, due: float, sent: float) -> None:
            start = time.perf_counter()
            with self.tracer.span("dashboard.view", request=f"{route}-{i}") as span:
                ok = self.view(route)
            end = time.perf_counter()
            if span is not None:
                span["route"] = route
            with lock:
                results.append({"request": f"{route}-{i}", "route": route, "ok": ok,
                                "latency": end - due,
                                 "service": end - start, "queue_wait": start - due,
                                 "gen_lag": sent - due})

        t0 = time.perf_counter() + 0.05
        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = []
            for i, route in enumerate(routes):
                due = t0 + i / rate
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                futures.append(pool.submit(serve, i, route, due, time.perf_counter()))
            for f in futures:
                f.result()
        return results


def wrap_etl_layers(tracer) -> None:
    """Spans around the public functions ``run_pipeline`` calls."""
    from fpl_data_pipeline_spark import pipeline
    from fpl_data_pipeline_spark.sources import incremental_load as il
    from fpl_data_pipeline_spark.sources import ingest

    for fn in ("read_bootstrap", "read_element_summaries", "read_understat_csv"):
        tracer.wrap(ingest, fn, "sources.open")
    tracer.wrap(ingest, "max_id", "sources.max_id")
    tracer.wrap(pipeline, "incremental_load", "incremental_load")
    tracer.wrap(pipeline, "upsert", "upsert.plan")
    tracer.wrap(il, "upsert", "upsert.plan")


def wrap_dashboard_layers(tracer) -> None:
    from fpl_data_pipeline_spark.plans import fpl_queries

    for fn in ("basic_ply_data", "value_per_points", "detailed_ply_data_per_week",
               "sql_stats_key_pass", "sql_stats_shots"):
        tracer.wrap(fpl_queries, fn, "fpl_queries.plan")


class PipelineRunner:
    """Times ``run_pipeline`` calls and records what each one read and
    wrote, measured from outside: a walk of the landing zone and of the
    warehouse before and after the call."""

    def __init__(self, spark, tracer, landing: str, wh: str) -> None:
        from fpl_data_pipeline_spark.pipeline import run_pipeline

        self.run_pipeline = run_pipeline
        self.spark, self.tracer, self.landing, self.wh = spark, tracer, landing, wh

    def read_s(self, request: str) -> float:
        """Seconds to parse the landing zone (traced runs only, before the
        run itself). ``run_pipeline``'s reads are lazy, so inside the run
        the parse is charged to the jobs that first need the rows; here
        each reader is materialized into the no-op sink instead."""
        from fpl_data_pipeline_spark.sources import ingest

        t0 = time.perf_counter()
        with self.tracer.span("sources.read", request=request):
            for df in (
                ingest.read_bootstrap(self.spark, os.path.join(self.landing, "bootstrap_static.json")),
                ingest.read_element_summaries(self.spark, os.path.join(self.landing, "summaries", "*.json")),
                ingest.read_understat_csv(self.spark, os.path.join(self.landing, "scrapp_stat_data", "*.csv")),
            ):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run(self, request: str) -> dict:
        read_s = self.read_s(f"read-{request}") if self.tracer.enabled else None
        inputs = dir_files(self.landing)
        before = dir_files(self.wh)
        fact = os.path.join(self.wh, "player_week_ft")
        fact_before = sum(v[0] for fp, v in before.items() if fp.startswith(fact + os.sep))
        cpu0 = machine.cpu_seconds(machine.process_tree())
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run_pipeline", request=request) as span:
            out = self.run_pipeline(self.spark, self.landing, self.wh)
        seconds = time.perf_counter() - t0
        cpu = machine.cpu_seconds(machine.process_tree()) - cpu0
        after = dir_files(self.wh)
        files_w, bytes_w = written(before, after)
        fact_after = sum(v[0] for fp, v in after.items() if fp.startswith(fact + os.sep))
        op = {
            "request": request, "seconds": seconds, "cpu": cpu, "read_s": read_s,
            "metrics": dict(out["__metrics__"]),
            "files_in": len(inputs), "bytes_in": sum(v[0] for v in inputs.values()),
            "files_written": files_w, "bytes_written": bytes_w,
            "new_fact_bytes": max(fact_after - fact_before, 0), "span": span,
        }
        return op


def etl_layer_metrics(tracer, ops: list[dict]) -> dict:
    """Per-run means over ``ops`` of the ETL layers' spans and counters."""
    n = max(len(ops), 1)
    selfs = tracer.self_times()
    m = {k: 0.0 for k in ("sources.open_s", "sources.max_id_s", "incremental_load.s",
                          "upsert.plan_s", "pipeline.self_s", "pipeline.jobs", "pipeline.tasks")}
    names = {"sources.open": "sources.open_s", "sources.max_id": "sources.max_id_s",
             "incremental_load": "incremental_load.s", "upsert.plan": "upsert.plan_s"}
    for op in ops:
        root = op["span"]
        if root is None:
            continue
        m["pipeline.self_s"] += selfs[root["id"]]
        for s in tracer.subtree(root):
            m["pipeline.jobs"] += s.get("jobs", 0)
            m["pipeline.tasks"] += s.get("tasks", 0)
            # nested spans of one layer (upsert inside incremental_load)
            # count once, at the outermost
            if s["name"] in names and not _has_ancestor_named(tracer, s, s["name"]):
                m[names[s["name"]]] += s["end"] - s["start"]
    out = {k: v / n for k, v in m.items()}
    new_fact = sum(op["new_fact_bytes"] for op in ops)
    out.update({
        "sources.read_s": sum(op["read_s"] for op in ops) / n,
        "sources.files_in": sum(op["files_in"] for op in ops) / n,
        "sources.bytes_in": sum(op["bytes_in"] for op in ops) / n,
        "pipeline.files_written": sum(op["files_written"] for op in ops) / n,
        "pipeline.bytes_written": sum(op["bytes_written"] for op in ops) / n,
        "pipeline.new_fact_bytes": new_fact / n,
        "pipeline.write_amp": sum(op["bytes_written"] for op in ops) / max(new_fact, 1),
    })
    return out


def _has_ancestor_named(tracer, span: dict, name: str) -> bool:
    by_id = {s["id"]: s for s in tracer.spans}
    parent = by_id.get(span["parent"])
    while parent is not None:
        if parent["name"] == name:
            return True
        parent = by_id.get(parent["parent"])
    return False


def view_layer_metrics(tracer, views: list[dict]) -> dict:
    """Per-view figures of the dashboard layers, over ``views``."""
    requests = {v["request"] for v in views}
    spans = [s for s in tracer.spans if s["name"] == "dashboard.view" and s["request"] in requests]
    selfs = tracer.self_times()
    n = max(len(spans), 1)
    m = {"fpl_queries.read_s": 0.0, "fpl_queries.plan_s": 0.0, "fpl_queries.exec_s": 0.0,
         "fpl_queries.jobs_per_view": 0.0, "fpl_queries.tasks_per_view": 0.0}
    for root in spans:
        m["fpl_queries.exec_s"] += selfs[root["id"]]
        for s in tracer.subtree(root):
            m["fpl_queries.jobs_per_view"] += s.get("jobs", 0)
            m["fpl_queries.tasks_per_view"] += s.get("tasks", 0)
            if s["name"] == "fpl_queries.read":
                m["fpl_queries.read_s"] += s["end"] - s["start"]
            elif s["name"] == "fpl_queries.plan":
                m["fpl_queries.plan_s"] += s["end"] - s["start"]
    out = {k: v / n for k, v in m.items()}

    def route_median(route):
        xs = [v["service"] for v in views if v["route"] == route]
        return statistics.median(xs) if xs else 0.0

    out.update({
        "fpl_queries.home_s": route_median("home"),
        "fpl_queries.layout_s": route_median("layout"),
        "dashboard.views": len(views),
        "dashboard.queue_wait_s": statistics.fmean(v["queue_wait"] for v in views),
        "dashboard.gen_lag_s": max(v["gen_lag"] for v in views),
        "dashboard.p90_s": percentile([v["latency"] for v in views], 90),
    })
    return out


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def mix_median(views: list[dict]) -> float:
    """Median view latency of the 50/50 mix: the mean of the two routes'
    medians, so the figure does not jump between the routes' modes."""
    meds = [statistics.median(v["latency"] for v in views if v["route"] == r)
            for r in ("home", "layout")]
    return sum(meds) / 2


def expected_views(season: Season, week: int) -> dict:
    return {"home": season.expected_home(week), "layout": season.expected_layout(week)}


def plant(expected: dict) -> dict:
    """A wrong expected answer, to prove the checks count failures."""
    home = dict(expected["home"])
    home["graph_lab"] = list(reversed(home["graph_lab"]))
    return {**expected, "home": home}


# --- workloads -----------------------------------------------------------------


def etl_weekly(ctx) -> None:
    """A timed weekly ``run_pipeline`` call landing the next gameweek. The
    traced run adds a replay of that week, which must land nothing new, and
    page views checking that the dashboard shows the new week."""
    size = ctx.size(FULL, TINY)
    season = Season(ctx.seed, size["players"], size["weeks"])
    landing, wh = ctx.work("landing"), ctx.work("warehouse")
    week = size["timed_week"]
    season.land(landing, week - 1)
    wrap_etl_layers(ctx.tracer)
    runner = PipelineRunner(ctx.spark, ctx.tracer, landing, wh)
    with ctx.setup_step("warmup"):
        build = runner.run("build")  # the season so far
    rows = sum(n for n, _ in season.week_tallies(week - 1).values())
    ctx.outcome(build["metrics"]["null_keys"] == 0 and build["metrics"]["n_rows"] == rows)

    tallies = season.week_tallies(week)
    if ctx.plant_fault:
        n, pts = tallies[week]
        tallies[week] = (n + 1, pts)
    season.land(landing, week)
    ctx.start_window()
    op = runner.run(f"week-{week}")
    ctx.stop_window()

    # every landed week's fact rows and points against the generator's
    import pyspark.sql.functions as F

    fact = ctx.spark.read.parquet(os.path.join(wh, "player_week_ft"))
    got = {r["round_gw"]: (r["n"], r["pts"]) for r in
           fact.groupBy("round_gw").agg(F.count(F.lit(1)).alias("n"),
                                        F.sum("total_points").alias("pts")).collect()}
    ctx.outcome(op["metrics"]["null_keys"] == 0 and op["metrics"]["n_rows"] == sum(
        n for n, _ in tallies.values()) and got.get(week) == tallies[week])
    ctx.outcome(all(got.get(w) == tallies[w] for w in range(1, week)))
    ctx.op_median, ctx.op_cpu = op["seconds"], op["cpu"]
    ctx.detail.update({
        "timed_week": week,
        "players": size["players"],
    })
    if ctx.tracer.enabled:
        replay(ctx, runner)
        # freshness: page views right after the last run show the new week
        wrap_dashboard_layers(ctx.tracer)
        dash = Dashboard(ctx.spark, wh, ctx.tracer, expected_views(season, week))
        views = dash.open_loop(["home", "layout"], size["rate"], 1)
        ctx.outcome(all(v["ok"] for v in views))
        ctx.tracer.resolve_jobs()
        ctx.layers.update(etl_layer_metrics(ctx.tracer, [op]))
        ctx.layers.update(view_layer_metrics(ctx.tracer, views))


def replay(ctx, runner: PipelineRunner) -> None:
    """Run the pipeline again on the same landing zone: it lands nothing
    new, so every table's state must stay the same."""
    state = table_state_hash(ctx.spark, runner.wh)
    op = runner.run("replay")
    ctx.outcome(op["metrics"]["null_keys"] == 0 and table_state_hash(ctx.spark, runner.wh) == state)
    ctx.layers["pipeline.replay_s"] = op["seconds"]
    ctx.detail["etl_replay_s"] = op["seconds"]


def dashboard(ctx) -> None:
    """Open-loop page views at a fixed rate over a full-season warehouse."""
    size = ctx.size(FULL, TINY)
    season = Season(ctx.seed, size["players"], size["weeks"])
    landing, wh = ctx.work("landing"), ctx.work("warehouse")
    season.land(landing, size["weeks"])
    wrap_etl_layers(ctx.tracer)
    wrap_dashboard_layers(ctx.tracer)
    runner = PipelineRunner(ctx.spark, ctx.tracer, landing, wh)
    expected = expected_views(season, size["weeks"])
    if ctx.plant_fault:
        expected = plant(expected)
    dash = Dashboard(ctx.spark, wh, ctx.tracer, expected)
    workers = max(ctx.nproc - 1, 1)  # plus the generator: nproc threads
    with ctx.setup_step("warmup"):
        build = runner.run("build")
        dash.open_loop(["home", "layout"] * WARMUP_ROUNDS, 100.0, 2)
    ctx.outcome(build["metrics"]["null_keys"] == 0)

    n = max(2, round(size["rate"] * ctx.seconds) // 2 * 2)
    routes = ["home", "layout"] * (n // 2)
    random.Random(ctx.seed).shuffle(routes)
    ctx.start_window()
    cpu0 = ctx.cpu()
    views = dash.open_loop(routes, size["rate"], workers)
    ctx.op_cpu = (ctx.cpu() - cpu0) / len(views)
    ctx.stop_window()
    for v in views:
        ctx.outcome(v["ok"])
    ctx.op_median = mix_median(views)
    ctx.detail.update({
        "rate_per_s": size["rate"], "workers": workers, "views": len(views),
        "home_p50_s": statistics.median(v["latency"] for v in views if v["route"] == "home"),
        "layout_p50_s": statistics.median(v["latency"] for v in views if v["route"] == "layout"),
        "page_view_p90_s": percentile([v["latency"] for v in views], 90),
        "max_queue_wait_s": max(v["queue_wait"] for v in views),
        "players": size["players"],
    })
    if ctx.tracer.enabled:
        replay(ctx, runner)
        ctx.tracer.resolve_jobs()
        ctx.layers.update(etl_layer_metrics(ctx.tracer, [build]))
        ctx.layers.update(view_layer_metrics(ctx.tracer, views))
