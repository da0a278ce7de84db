"""The batch phase of ``ingest``: the paper's structured daily batch and CSV
landing modes.

One pass builds a fresh lake: a full load of the 20-day history (Bronze
ingest → Silver snapshot validated by an expectation ``Suite`` → Gold),
then daily increments (Bronze ingest → Silver MERGE → Gold). Each day
also lands a 24-row hourly price CSV in one of three drifted layouts.
Gold holds daily segment metrics, the latest event per user, and an
hourly cost model joined to the landed prices.

Every pipeline stage is one operation: a failing stage is recorded and
the pass goes on.
"""

from __future__ import annotations

import os
import time

import datagen
import duckdb
from harness import Ctx, dir_bytes, fresh_dir
from pyspark.sql import functions as F

AUDIT_TS = "2024-02-01 00:00:00"
# One daily increment per pass: a load costs 13-20 s of small Spark jobs at
# local[4], and the run budget leaves room for one (README.md, "Scope").
INCREMENTS = 1


def prepare(ctx: Ctx) -> dict:
    src = fresh_dir(os.path.join(ctx.work, "source"))
    return {"src": src, **datagen.medallion_inputs(src, ctx.seed, increment_days=INCREMENTS)}


def _paths(src: str, table: str, days) -> list[str]:
    return [
        os.path.join(src, table, f"day={d:02d}", "part.parquet")
        for d in days
        if os.path.exists(os.path.join(src, table, f"day={d:02d}", "part.parquet"))
    ]


def _suite():
    from smartpool_bigdata_spark.expectations import InRange, InSet, NotNull, Suite, Unique

    return Suite(
        [
            NotNull(["event_id", "ts", "user_id"]),
            InSet("event_type", datagen.EVENT_TYPES),
            InRange("value", 0.0, 500.0),
            Unique(["event_id"]),
        ]
    )


def _prices(spark, src: str, days) -> object:
    """Typed hourly prices for ``days``: one landing read per layout."""
    from smartpool_bigdata_spark.io import csv_landing

    frames = []
    for layout in range(len(datagen.PRICE_LAYOUTS)):
        dates = [datagen.day_str(d) for d in days if d % 3 == layout]
        if not dates:
            continue
        raw = csv_landing.read_landing_csv(
            spark,
            os.path.join(src, "landing", "prices"),
            casts={"price_eur_kwh": "double", "hour": "int"},
            dates=dates,
        )
        frames.append(csv_landing.drift_tolerant_timestamp(raw).select("ts", "price_eur_kwh"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _gold_builds():
    from smartpool_bigdata_spark.ops.relational import latest_by_key

    def daily_segment_metrics(frames):
        ev, cust = frames["silver.events"], frames["silver.customer"]
        joined = ev.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            ev["user_id"] == F.col("c_custkey"),
            "left",
        )
        return joined.groupBy(
            F.col("ts").cast("date").alias("event_date"),
            F.coalesce("c_mktsegment", F.lit("unknown")).alias("segment"),
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("total_value"),
        )

    def latest_event_per_user(frames):
        ev = frames["silver.events"]
        return latest_by_key(ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]).select(
            "user_id", "event_id", "ts", "event_type", "value"
        )

    def hourly_cost(frames):
        ev, prices = frames["silver.events"], frames["silver.prices"]
        hourly = ev.groupBy(F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("total_value"),
        )
        p = prices.select(
            F.col("ts").cast("timestamp").alias("hour"),
            F.col("price_eur_kwh").cast("decimal(12,5)").alias("price"),
        )
        return hourly.join(F.broadcast(p), "hour").withColumn(
            "cost", F.col("total_value") * F.col("price")
        )

    return {
        "daily_segment_metrics": (daily_segment_metrics, ["silver.events", "silver.customer"]),
        "latest_event_per_user": (latest_event_per_user, ["silver.events"]),
        "hourly_cost": (hourly_cost, ["silver.events", "silver.prices"]),
    }


def _load(ctx: Ctx, pipe, state: dict, tag: str, days, full: bool) -> None:
    """One full load (``full``) or daily increment: every stage is an op."""
    spark, src = ctx.spark, state["src"]
    audit = dict(audit_source="source", audit_ts=F.lit(AUDIT_TS).cast("timestamp"))
    upto = range(0, max(days) + 1)
    bronze = {
        "events": lambda: spark.read.parquet(*_paths(src, "events", upto)),
        "customer": lambda: spark.read.parquet(*_paths(src, "customer", upto)),
        "prices": lambda: _prices(spark, src, days),
    }
    keys = {
        "events": ("ts", "event_id", ["event_id"], [F.col("ts").desc()]),
        "customer": ("c_updated_at", "c_custkey", ["c_custkey"], [F.col("c_updated_at").desc()]),
        "prices": ("ts", None, ["ts"], [F.col("price_eur_kwh").desc()]),
    }
    for name, source in bronze.items():
        ts_col, pk, _, _ = keys[name]
        with ctx.op(f"{tag}.bronze.{name}", "stage"):
            pipe.bronze_ingest(name, source(), ts_col, pk_col=pk, **audit)
    for name in bronze:
        _, _, k, order = keys[name]
        suite = _suite() if name == "events" else None
        with ctx.op(f"{tag}.silver.{name}", "stage"):
            if full:
                pipe.silver_snapshot(name, keys=k, order_by=order, expectations=suite)
            else:
                pipe.silver_merge(name, keys=k, order_by=order, expectations=suite)
    for name, (build, inputs) in _gold_builds().items():
        with ctx.op(f"{tag}.gold.{name}", "stage"):
            pipe.gold(name, build, inputs=inputs)


def one_pass(ctx: Ctx, state: dict, lake: str) -> dict:
    from smartpool_bigdata_spark.catalog import Catalog
    from smartpool_bigdata_spark.pipelines import MedallionPipeline

    fresh_dir(lake)
    pipe = MedallionPipeline(ctx.spark, Catalog(root=lake))
    with ctx.tracer.span("pass.medallion"):
        t0 = time.perf_counter()
        _load(ctx, pipe, state, "full", state["history_days"], full=True)
        full_s = time.perf_counter() - t0
        inc_s = []
        for d in state["increment_days"]:
            t1 = time.perf_counter()
            _load(ctx, pipe, state, f"inc{d:02d}", [d], full=False)
            inc_s.append(time.perf_counter() - t1)
    return {"full_s": full_s, "inc_s": inc_s, "pass_s": time.perf_counter() - t0, "lake": lake, "pipe": pipe}


def run(ctx: Ctx, state: dict, tag: str) -> dict:
    return one_pass(ctx, state, os.path.join(ctx.work, f"lake_{tag}"))


# -- correctness ---------------------------------------------------------------


def oracle_sql(state: dict) -> dict[str, str]:
    src = state["src"]
    last = max(state["increment_days"])
    ev = _paths(src, "events", range(last + 1))
    cu = _paths(src, "customer", range(last + 1))
    prices = os.path.join(src, "landing", "prices", "*", "prices.csv")
    ctes = f"""
    WITH ev AS (
        SELECT * FROM read_parquet({ev!r})
        QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1
    ),
    cust AS (
        SELECT * FROM read_parquet({cu!r})
        QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY c_updated_at DESC) = 1
    ),
    raw AS (
        SELECT * FROM read_csv('{prices}', all_varchar = true, union_by_name = true,
                               header = true, filename = false)
    ),
    prices AS (
        SELECT coalesce(
                   CAST(ts AS TIMESTAMP),
                   CAST(replace(ts_utc, 'Z', '') AS TIMESTAMP),
                   CAST(date AS TIMESTAMP) + to_hours(CAST(hour AS INT))
               ) AS hour,
               CAST(price_eur_kwh AS DECIMAL(12, 5)) AS price
        FROM raw
    )
    """
    return {
        "daily_segment_metrics": ctes + """
            SELECT CAST(ts AS DATE) AS event_date,
                   coalesce(c_mktsegment, 'unknown') AS segment,
                   count(*) AS n_events,
                   sum(CAST(value AS DECIMAL(12, 2))) AS total_value
            FROM ev LEFT JOIN cust ON user_id = c_custkey GROUP BY 1, 2""",
        "latest_event_per_user": ctes + """
            SELECT user_id, event_id, ts, event_type, value FROM ev
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""",
        "hourly_cost": ctes + """
            SELECT h.hour, h.n_events, h.total_value, p.price, h.total_value * p.price AS cost
            FROM (SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
                         sum(CAST(value AS DECIMAL(12, 2))) AS total_value
                  FROM ev GROUP BY 1) h
            JOIN prices p ON h.hour = p.hour""",
    }


def check(ctx: Ctx, state: dict, result: dict) -> list[str]:
    """Gold after the last increment must equal DuckDB over the generated
    inputs; each mismatching table is a failed op."""
    from compare import rows_equal

    con = duckdb.connect()
    problems = []
    for name, sql in oracle_sql(state).items():
        try:
            got = result["pipe"].catalog.read(ctx.spark, f"gold.{name}")
            diff = rows_equal([r.asDict() for r in got.collect()], con.execute(sql).fetch_arrow_table().to_pylist())
        except Exception as exc:  # noqa: BLE001
            diff = f"{type(exc).__name__}: {exc}"[:300]
        if diff:
            problems.append(f"gold.{name}: {diff}")
            ctx.fail(f"check.gold.{name}", "check", diff)
    con.close()
    return problems


def metrics(state: dict, results: list[dict]) -> dict:
    from stats import median

    incs = [s for r in results for s in r["inc_s"]]
    return {
        "batch_full_load_s": median([r["full_s"] for r in results]),
        "batch_increment_s": median(incs),
        "batch_increment_samples": len(incs),
        "lake_bytes_per_input_byte": dir_bytes(results[-1]["lake"]) / state["input_bytes"],
    }
