"""The stream phase of ``ingest``: the paper's 4-query pool-sensor stream.

Topology, composed from the engine's ``streaming`` package:

* Bronze: raw JSON lines from the landing directory to parquet;
* Silver: ``parse_json_payload`` plus a data-quality filter, reading
  Bronze as a stream;
* Gold window: ``watermarked_tumbling_agg``, 1-minute windows per pool;
* Gold enriched: ``stream_static_enrich`` against a pools dimension.

A pass first drains a pre-staged backlog (catch-up, like an hourly job
draining Kafka), then a generator thread writes files at a fixed rate
(live, open loop) while event time runs 60x faster than wall time, so
windows close during the run. Every micro-batch is one operation.
"""

from __future__ import annotations

import json
import os
import threading
import time

import datagen
import duckdb
import numpy as np
from harness import Ctx, Op, fresh_dir
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener
from spans import utc_iso_to_epoch

BACKLOG_FILES = 20
ROWS_PER_FILE = 40
MAX_FILES_PER_TRIGGER = 25
LIVE_FILES_PER_S = 2  # × ROWS_PER_FILE = the live rate in rows/s
LIVE_S = 8.0
EVENT_DT_S = 0.75  # event seconds per reading: 60 event-s per wall-s live
MAX_LAG_S = 30.0  # out-of-order jitter, well under the watermark
WATERMARK = "2 minutes"
MALFORMED_SHARE = 0.01
QUERIES = ("bronze", "silver", "gold_window", "gold_enriched")

RAW_SCHEMA = (
    "seq bigint, pool_id int, sensor_ts string, ph double, chlorine double, "
    "temperature double, created_at double"
)
SILVER_SCHEMA = (
    "seq bigint, pool_id int, sensor_ts timestamp, ph double, chlorine double, "
    "temperature double, created_at double"
)


class Progress(StreamingQueryListener):
    """Every progress event of every query, as parsed JSON."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated: list[tuple[str, str | None]] = []
        self.lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.append((str(event.runId), event.exception))

    def of(self, name: str) -> list[dict]:
        with self.lock:
            return [p for p in self.events if p.get("name") == name]

    def rows_in(self, name: str) -> int:
        return sum(p.get("numInputRows", 0) for p in self.of(name))


class Generator:
    """Writes the readings as JSON-lines files into the landing directory.
    A file is written under a name the file source ignores and renamed
    into place, so the source never sees half a file."""

    def __init__(self, landing: str, seed: int):
        self.landing = landing
        self.g = datagen.rng(seed, "sensor")
        self.seq = 0
        self.files: list[tuple[float, str]] = []  # (due at, name)
        self.valid: list[dict] = []
        self.late_s = 0.0  # how far behind its schedule the generator ran

    def write_file(self, due: float | None = None) -> None:
        """Write one file of readings stamped with ``due`` (now if None)."""
        events = datagen.sensor_events(
            self.g, self.seq, ROWS_PER_FILE, self.seq * EVENT_DT_S, EVENT_DT_S, MAX_LAG_S
        )
        self.seq += ROWS_PER_FILE
        created = time.time() if due is None else due
        lines = datagen.json_lines(events, created).splitlines(keepends=True)
        bad = self.g.random(len(lines)) < MALFORMED_SHARE
        for i in np.flatnonzero(bad):
            lines[i] = lines[i][: len(lines[i]) // 2] + "\n"  # truncated payload
        self.valid.extend({**e, "created_at": round(created, 6)} for e, b in zip(events, bad) if not b)
        name = f"f{len(self.files):06d}.json"
        tmp = os.path.join(self.landing, f"_{name}.tmp")
        with open(tmp, "w") as f:
            f.writelines(lines)
        os.rename(tmp, os.path.join(self.landing, name))
        self.files.append((created, name))
        self.late_s = max(self.late_s, time.time() - created)

    def run_live(self, seconds: float, stop: threading.Event) -> None:
        """Open loop: one file every 1/LIVE_FILES_PER_S s on a fixed
        schedule that does not slow when the system does; each reading is
        stamped with the time its file was due."""
        step, due = 1.0 / LIVE_FILES_PER_S, time.time()
        end = due + seconds
        while due < end and not stop.is_set():
            self.write_file(due)
            due += step
            stop.wait(max(0.0, due - time.time()))


def prepare(ctx: Ctx) -> dict:
    root = fresh_dir(os.path.join(ctx.work, "stream"))
    pools = os.path.join(root, "pools.parquet")
    datagen.pools_dim(pools)
    listener = Progress()
    ctx.spark.streams.addListener(listener)
    return {"root": root, "pools": pools, "listener": listener}


def _topology(spark, d: dict, pools: str, tag: str):
    from smartpool_bigdata_spark.streaming import ops, runner, sources

    def sink(df, name):
        return runner.start_file_sink(
            df, d[name], os.path.join(d["chk"], name), query_name=f"{tag}.{name}"
        )

    raw = sources.file_stream(
        spark, d["landing"], "value string", fmt="text", max_files_per_trigger=MAX_FILES_PER_TRIGGER
    )
    bronze = raw.select("value", F.current_timestamp().alias("_processed_at"))
    parsed = ops.parse_json_payload(sources.file_stream(spark, d["bronze"], "value string"), RAW_SCHEMA)
    silver = (
        parsed.withColumn("sensor_ts", F.to_timestamp("sensor_ts"))
        .filter(
            F.col("seq").isNotNull()
            & F.col("pool_id").isNotNull()
            & F.col("sensor_ts").isNotNull()
            & F.col("created_at").isNotNull()
            & F.col("ph").between(0.0, 14.0)
            & F.col("chlorine").between(0.0, 20.0)
            & F.col("temperature").between(-10.0, 60.0)
        )
    )
    silver_in = ops.event_time_ltz(sources.file_stream(spark, d["silver"], SILVER_SCHEMA), "sensor_ts")
    window = ops.watermarked_tumbling_agg(
        silver_in,
        "sensor_ts",
        WATERMARK,
        "1 minute",
        ["pool_id"],
        {
            "n": F.count(F.lit(1)),
            "sum_ph": F.sum(F.col("ph").cast("decimal(10,3)")),
            "min_ph": F.min("ph"),
            "max_chlorine": F.max("chlorine"),
            "max_temperature": F.max("temperature"),
        },
    )
    dim = spark.read.parquet(pools)
    enriched = ops.stream_static_enrich(
        sources.file_stream(spark, d["silver"], SILVER_SCHEMA), dim, on="pool_id"
    ).select(
        "*",
        ((F.col("ph") < 7.0) | (F.col("ph") > 7.8)).alias("ph_alert"),
        ((F.col("chlorine") < 1.0) | (F.col("chlorine") > 3.0)).alias("chlorine_alert"),
        (F.col("temperature") > 32.0).alias("temperature_alert"),
        F.current_timestamp().alias("_processed_at"),
    )
    return [sink(bronze, "bronze"), sink(silver, "silver"), sink(window, "gold_window"), sink(enriched, "gold_enriched")]


def _wait(cond, timeout: float, poll: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(poll)
    return cond()


def one_pass(ctx: Ctx, state: dict, live_s: float, tag: str) -> dict:
    """Catch-up, then ``live_s`` seconds of live input, then drain."""
    from smartpool_bigdata_spark.streaming.runner import stop_all

    spark, lis = ctx.spark, state["listener"]
    root = fresh_dir(os.path.join(state["root"], tag))
    d = {k: os.path.join(root, k) for k in ("landing", "chk", *QUERIES)}
    os.makedirs(d["landing"])
    for q in QUERIES:
        # a downstream file source decides on its first listing whether its
        # input is a sink with a commit log; creating the log directory up
        # front makes it read committed files only
        os.makedirs(os.path.join(d[q], "_spark_metadata"))
    gen = Generator(d["landing"], ctx.seed)
    for _ in range(BACKLOG_FILES):
        gen.write_file()
    backlog_valid = len(gen.valid)
    enriched = f"{tag}.gold_enriched"
    with ctx.tracer.span("pass.sensor_stream") as span:
        t0 = time.time()
        queries = _topology(spark, d, state["pools"], tag)
        caught = _wait(lambda: lis.rows_in(enriched) >= backlog_valid, 120.0)
        catchup_s = time.time() - t0
        live_start = time.time()
        stop = threading.Event()
        live = threading.Thread(target=gen.run_live, args=(live_s, stop), daemon=True)
        live.start()
        live.join(live_s + 30)
        stop.set()
        live.join()
        drained = _wait(lambda: lis.rows_in(enriched) >= len(gen.valid), 60.0)
        time.sleep(0.5)  # let the window query run its no-data batch
        # stop between triggers: stopping inside one aborts its file write
        _wait(lambda: not any(q.status["isTriggerActive"] for q in queries), 10.0, 0.01)
        stop_all(queries)
    # the listener bus is ordered and asynchronous: once it has delivered
    # every query's termination, it has delivered all their progress events
    run_ids = [str(q.runId) for q in queries]
    _wait(lambda: {rid for rid, _ in lis.terminated} >= set(run_ids), 30.0)
    failures = [(rid, exc) for rid, exc in lis.terminated if rid in run_ids and exc]
    return {
        "tag": tag,
        "dirs": d,
        "run_ids": run_ids,
        "gen": gen,
        "backlog_valid": backlog_valid,
        "generator_late_s": gen.late_s,
        "caught": caught,
        "drained": drained,
        "catchup_s": catchup_s,
        "live_start": live_start,
        "span_id": span.id if span is not None else None,
        "failures": failures,
    }


def _epoch(ts) -> float:
    import calendar

    return calendar.timegm(ts.timetuple()) + ts.microsecond / 1e6


def _finish(ctx: Ctx, state: dict, p: dict) -> None:
    """Turn a pass's progress events and outputs into operations, spans,
    latencies and queue waits (outside the timed region)."""
    lis, tag = state["listener"], p["tag"]

    batches = {}
    for q in QUERIES:
        evs = sorted(lis.of(f"{tag}.{q}"), key=lambda e: e["batchId"])
        batches[q] = evs
        for e in evs:
            start = utc_iso_to_epoch(e["timestamp"])
            dur = e["durationMs"].get("triggerExecution", 0) / 1e3
            ctx.ops.append(Op(f"{tag}.{q}.batch{e['batchId']}", "microbatch", dur, True))
            ctx.tracer.add(f"stream.{q}.batch", start, start + dur, p["span_id"], batch=e["batchId"])
    for rid, exc in p["failures"]:
        ctx.fail(f"{tag}.query.{rid}", "microbatch", exc.splitlines()[0][:200])
    p["batches"] = batches

    # latency: generator stamp -> end of the Gold-enriched batch holding it
    ends = sorted(
        (utc_iso_to_epoch(e["timestamp"]), utc_iso_to_epoch(e["timestamp"]) + e["durationMs"]["triggerExecution"] / 1e3)
        for e in batches["gold_enriched"]
    )
    starts = np.array([s for s, _ in ends])
    rows = ctx.spark.read.parquet(p["dirs"]["gold_enriched"]).select("created_at", "_processed_at").collect()
    lat, per_batch = [], []
    for r in rows:
        if r["created_at"] < p["live_start"]:
            continue
        i = int(np.searchsorted(starts, _epoch(r["_processed_at"]) + 0.05, side="right")) - 1
        if i >= 0:
            lat.append(ends[i][1] - r["created_at"])
            per_batch.append(i)
    p["latency"], p["latency_batch"] = lat, per_batch

    # queue wait: generator stamp -> start of the Bronze batch that read it
    waits = []
    for r in ctx.spark.read.parquet(p["dirs"]["bronze"]).collect():
        try:
            created = json.loads(r["value"])["created_at"]
        except ValueError:
            continue
        if created >= p["live_start"]:
            waits.append(_epoch(r["_processed_at"]) - created)
    p["queue_wait"] = waits
    consumed, backlog_max = 0, 0
    for e in batches["bronze"]:
        start = utc_iso_to_epoch(e["timestamp"])
        written = sum(1 for t, _ in p["gen"].files if t <= start)
        backlog_max = max(backlog_max, written - consumed // ROWS_PER_FILE)
        consumed += e.get("numInputRows", 0)
    p["backlog_files_max"] = backlog_max


def run(ctx: Ctx, state: dict, tag: str) -> dict:
    """One pass whose live phase lasts ``LIVE_S`` seconds."""
    p = one_pass(ctx, state, LIVE_S, tag)
    _finish(ctx, state, p)
    return p


# -- correctness ---------------------------------------------------------------


def _oracle(con, p: dict, pools: str) -> dict[str, str]:
    landing = os.path.join(p["dirs"]["landing"], "f*.json")
    con.execute(f"""
        CREATE OR REPLACE VIEW silver AS
        WITH lines AS (
            SELECT unnest(string_split(content, chr(10))) AS line FROM read_text('{landing}')
        ),
        parsed AS (
            SELECT CAST(j->>'$.seq' AS BIGINT) AS seq,
                   CAST(j->>'$.pool_id' AS INTEGER) AS pool_id,
                   j->>'$.sensor_ts' AS sensor_ts,
                   CAST(j->>'$.ph' AS DOUBLE) AS ph,
                   CAST(j->>'$.chlorine' AS DOUBLE) AS chlorine,
                   CAST(j->>'$.temperature' AS DOUBLE) AS temperature,
                   CAST(j->>'$.created_at' AS DOUBLE) AS created_at
            FROM (SELECT CASE WHEN json_valid(line) THEN CAST(line AS JSON) END AS j FROM lines)
            WHERE j IS NOT NULL
        )
        SELECT seq, pool_id, CAST(sensor_ts AS TIMESTAMP) AS sensor_ts,
               ph, chlorine, temperature, created_at
        FROM parsed
        WHERE seq IS NOT NULL AND pool_id IS NOT NULL AND sensor_ts IS NOT NULL
          AND created_at IS NOT NULL AND ph BETWEEN 0 AND 14
          AND chlorine BETWEEN 0 AND 20 AND temperature BETWEEN -10 AND 60""")
    wm = [e["eventTime"].get("watermark") for e in p["batches"]["gold_window"] if e.get("eventTime")]
    wm_s = max((utc_iso_to_epoch(w) for w in wm if w), default=0.0)
    return {
        "silver": "SELECT * FROM silver",
        "gold_enriched": f"""
            SELECT s.*, d.pool_name, d.volume_m3,
                   (ph < 7.0 OR ph > 7.8) AS ph_alert,
                   (chlorine < 1.0 OR chlorine > 3.0) AS chlorine_alert,
                   temperature > 32.0 AS temperature_alert
            FROM silver s LEFT JOIN read_parquet('{pools}') d USING (pool_id)""",
        "gold_window": f"""
            SELECT time_bucket(INTERVAL 1 minute, sensor_ts) AS window_start,
                   time_bucket(INTERVAL 1 minute, sensor_ts) + INTERVAL 1 minute AS window_end,
                   pool_id, count(*) AS n, sum(CAST(ph AS DECIMAL(10, 3))) AS sum_ph,
                   min(ph) AS min_ph, max(chlorine) AS max_chlorine,
                   max(temperature) AS max_temperature
            FROM silver GROUP BY 1, 2, 3
            HAVING epoch(time_bucket(INTERVAL 1 minute, sensor_ts) + INTERVAL 1 minute) <= {wm_s}""",
    }


def check(ctx: Ctx, state: dict, p: dict) -> list[str]:
    """Silver and Gold enriched must equal DuckDB over the landed files;
    Gold window must equal it for the windows the final watermark closed."""
    from compare import rows_equal

    problems = []
    con = duckdb.connect()
    if not (p["caught"] and p["drained"]):
        problems.append(f"{p['tag']}: stream did not drain (caught={p['caught']}, drained={p['drained']})")
        ctx.fail(f"check.{p['tag']}.drain", "check", problems[-1])
    for name, sql in _oracle(con, p, state["pools"]).items():
        try:
            got = ctx.spark.read.parquet(p["dirs"][name]).drop("_processed_at")
            diff = rows_equal([r.asDict() for r in got.collect()], con.execute(sql).fetch_arrow_table().to_pylist())
        except Exception as exc:  # noqa: BLE001
            diff = f"{type(exc).__name__}: {exc}"[:300]
        if diff:
            problems.append(f"{p['tag']}.{name}: {diff}")
            ctx.fail(f"check.{p['tag']}.{name}", "check", diff)
    con.close()
    return problems


def metrics(passes: list[dict]) -> dict:
    from stats import InsufficientSamples, median, percentile

    lat = [x for p in passes for x in p["latency"]]
    out = {
        "stream_catchup_s": median([p["catchup_s"] for p in passes]),
        "stream_catchup_rows_per_s": median([p["backlog_valid"] / p["catchup_s"] for p in passes]),
        "stream_live_rows_per_s": float(LIVE_FILES_PER_S * ROWS_PER_FILE),
        "stream_generator_late_s": max(p["generator_late_s"] for p in passes),
        "stream_latency_samples": len(lat),
    }
    for q, key in ((0.5, "stream_latency_p50_s"), (0.9, "stream_latency_p90_s")):
        try:
            out[key] = percentile(lat, q)
        except InsufficientSamples as exc:
            out[key + "_unavailable"] = str(exc)
    if "stream_latency_p90_s" in out:
        p90 = out["stream_latency_p90_s"]
        beyond = {(p["tag"], b) for p in passes for x, b in zip(p["latency"], p["latency_batch"]) if x > p90}
        out["stream_batches_beyond_p90"] = len(beyond)
    return out


def layer_metrics(passes: list[dict]) -> dict:
    from stats import median

    def med(values):
        return median(values) if values else 0.0

    out = {"_job_groups": [rid for p in passes for rid in p["run_ids"]]}
    planning = 0.0
    for q in QUERIES:
        evs = [e for p in passes for e in p["batches"][q]]
        busy = [e for e in evs if e.get("numInputRows", 0) > 0]
        dur = lambda k: [e["durationMs"].get(k, 0) for e in busy]  # noqa: E731
        out[f"stream.{q}.batches"] = float(len(evs))
        out[f"stream.{q}.rows_in"] = float(sum(e.get("numInputRows", 0) for e in evs))
        out[f"stream.{q}.trigger_ms_p50"] = med(dur("triggerExecution"))
        out[f"stream.{q}.add_batch_ms_p50"] = med(dur("addBatch"))
        out[f"stream.{q}.wal_commit_ms_p50"] = med(dur("walCommit"))
        out[f"stream.{q}.query_planning_ms_p50"] = med(dur("queryPlanning"))
        planning += sum(e["durationMs"].get("queryPlanning", 0) for e in evs) / 1e3
    win = [e for p in passes for e in p["batches"]["gold_window"] if e.get("stateOperators")]
    if win:
        out["stream.gold_window.state_rows"] = float(win[-1]["stateOperators"][0].get("numRowsTotal", 0))
        out["stream.gold_window.state_commit_ms_p50"] = med([e["stateOperators"][0].get("commitTimeMs", 0) for e in win])
        out["stream.gold_window.rows_dropped_late"] = float(
            sum(e["stateOperators"][0].get("numRowsDroppedByWatermark", 0) for e in win)
        )
    out["stream.backlog_files_max"] = float(max(p["backlog_files_max"] for p in passes))
    out["stream.queue_wait_s_p50"] = med([w for p in passes for w in p["queue_wait"]])
    out["spark.sql_planning_s"] = planning
    return out
