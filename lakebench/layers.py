"""Which engine functions the traced run wraps, which layer each span
belongs to, and the per-layer metrics computed from the spans."""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time

from harness import dir_bytes
from spans import PACKAGE, SpanTree, Tracer, spark_totals

P = PACKAGE

# Named public functions: (target, span name). The ``ops.*`` modules are
# wrapped wholesale by ``ops_targets``.
NAMED = [
    (f"{P}.catalog:load_table", "catalog.load_table"),
    (f"{P}.catalog:Catalog.write", "catalog.write"),
    (f"{P}.state:incremental_ingest", "state.incremental_ingest"),
    (f"{P}.state:read_increment", "state.read_increment"),
    (f"{P}.state:advance_watermark", "state.advance_watermark"),
    (f"{P}.pipelines.medallion:MedallionPipeline.bronze_ingest", "medallion.bronze_ingest"),
    (f"{P}.pipelines.medallion:MedallionPipeline.silver_snapshot", "medallion.silver_snapshot"),
    (f"{P}.pipelines.medallion:MedallionPipeline.silver_merge", "medallion.silver_merge"),
    (f"{P}.pipelines.medallion:MedallionPipeline.gold", "medallion.gold"),
    (f"{P}.expectations:Suite.validate", "expectations.validate"),
    (f"{P}.io.sinks:merge_upsert", "sinks.merge_upsert"),
    (f"{P}.io.csv_landing:read_landing_csv", "csv_landing.read_landing_csv"),
    (f"{P}.io.csv_landing:drift_tolerant_timestamp", "csv_landing.drift_tolerant_timestamp"),
    (f"{P}.streaming.sources:file_stream", "streaming.sources.file_stream"),
    (f"{P}.streaming.ops:parse_json_payload", "streaming.ops.parse_json_payload"),
    (f"{P}.streaming.ops:watermarked_tumbling_agg", "streaming.ops.watermarked_tumbling_agg"),
    (f"{P}.streaming.ops:stream_static_enrich", "streaming.ops.stream_static_enrich"),
    (f"{P}.streaming.ops:event_time_ltz", "streaming.ops.event_time_ltz"),
    (f"{P}.streaming.runner:start_file_sink", "streaming.runner.start_file_sink"),
    (f"{P}.streaming.runner:stop_all", "streaming.runner.stop_all"),
]
OPS_MODULES = ("graph", "relational", "text", "vectors", "multimodal")

# Span-name prefix → layer, first match wins.
LAYERS = (
    ("catalog.", "catalog"),
    ("state.", "state"),
    ("expectations.", "expectations"),
    ("medallion.", "pipelines.medallion"),
    ("sinks.", "io.sinks"),
    ("csv_landing.", "io.csv_landing"),
    ("query.", "queries"),
    ("ops.graph.", "ops.graph"),
    ("ops.", "ops.other"),
    ("streaming.", "streaming"),
    ("stream.", "streaming"),
)
LAYER_NAMES = ("bench",) + tuple(dict.fromkeys(layer for _, layer in LAYERS))


def layer_of(span_name: str) -> str:
    for prefix, layer in LAYERS:
        if span_name.startswith(prefix):
            return layer
    return "bench"


def _resolve(target: str):
    mod_name, _, qual = target.partition(":")
    owner = importlib.import_module(mod_name)
    parts = qual.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]


def ops_targets() -> list[tuple[str, str]]:
    out = []
    for short in OPS_MODULES:
        mod = importlib.import_module(f"{P}.ops.{short}")
        for name, fn in vars(mod).items():
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_"):
                out.append((f"{mod.__name__}:{name}", f"ops.{short}.{name}"))
    return out


class Probes:
    """Byte and row counters that ride along the wrapped calls."""

    def __init__(self):
        self.landing_frames = []

    def hook(self, span_name: str):
        if span_name == "catalog.write":
            return self._catalog_write
        if span_name == "sinks.merge_upsert":
            return self._merge
        if span_name == "medallion.bronze_ingest":
            return self._bronze
        if span_name == "expectations.validate":
            return self._validate
        if span_name == "csv_landing.read_landing_csv":
            return self._landing
        return None

    @staticmethod
    def _catalog_write(span, args, kwargs):
        cat, qualified = args[0], args[2] if len(args) > 2 else kwargs["qualified"]
        path = cat.get(qualified).path
        mode = args[3] if len(args) > 3 else kwargs.get("mode", "append")
        before = 0 if mode == "overwrite" else dir_bytes(path)

        def after(result, error):
            span.extra["bytes"] = dir_bytes(path) - before

        return after

    @staticmethod
    def _merge(span, args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["target_path"]

        def after(result, error):
            span.extra["bytes_written"] = dir_bytes(path)

        return after

    def _bronze(self, span, args, kwargs):
        pipe, name = args[0], args[1] if len(args) > 1 else kwargs["name"]
        path = pipe.catalog.layer_path("bronze", name)
        before = dir_bytes(path)

        def after(result, error):
            span.extra["bytes"] = dir_bytes(path) - before

        return after

    @staticmethod
    def _validate(span, args, kwargs):
        def after(result, error):
            span.extra["violations"] = str(error).count("; ") + 1 if error is not None else 0

        return after

    def _landing(self, span, args, kwargs):
        def after(result, error):
            if result is not None:
                self.landing_frames.append(result)

        return after

    def landing_counts(self) -> tuple[int, int]:
        """Rows and unparseable timestamps of every landing read, counted
        after the timed phase so the counting jobs are not attributed."""
        from pyspark.sql import functions as F

        from smartpool_bigdata_spark.io.csv_landing import drift_tolerant_timestamp

        rows = nulls = 0
        for df in self.landing_frames:
            r = drift_tolerant_timestamp(df).agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col("ts").isNull().cast("int")).alias("z")
            ).collect()[0]
            rows, nulls = rows + r["n"], nulls + (r["z"] or 0)
        return rows, nulls


def instrument(tracer: Tracer, probes: Probes):
    """Wrap every target in a span; returns the undo function. Wrappers
    keep the original's module and qualified name so closures that
    capture them still pickle by reference for Python workers."""
    undo = []
    for target, name in NAMED + ops_targets():
        owner, attr = _resolve(target)
        orig = inspect.getattr_static(owner, attr) if isinstance(owner, type) else getattr(owner, attr)
        hook = probes.hook(name)

        @functools.wraps(orig)
        def wrapper(*args, _orig=orig, _name=name, _hook=hook, **kwargs):
            with tracer.span(_name) as s:
                t = time.perf_counter()
                after = _hook(s, args, kwargs) if (_hook and s is not None) else None
                tracer.own_s += time.perf_counter() - t
                result = error = None
                try:
                    result = _orig(*args, **kwargs)
                    return result
                except BaseException as exc:
                    error = exc
                    raise
                finally:
                    if after is not None:
                        t = time.perf_counter()
                        after(result, error)
                        tracer.own_s += time.perf_counter() - t

        if isinstance(owner, type):
            setattr(owner, attr, wrapper)
            undo.append((owner, attr, orig))
            continue
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == P or mod_name.startswith(P + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)
                    undo.append((mod, k, orig))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


def span_metrics(tree: SpanTree, probes: Probes, all_jobs: list[dict], stages: dict) -> dict[str, float]:
    """Per-layer metrics from the spans; a layer the run never reached
    reports 0."""
    m: dict[str, float] = {}

    def put(name: str, span: str, jobs: bool = True):
        s, j, _ = tree.inclusive(span)
        m[f"{name}.s"] = s
        if jobs:
            m[f"{name}.jobs"] = float(j)

    put("state.incremental_ingest", "state.incremental_ingest")
    put("state.read_increment", "state.read_increment", jobs=False)
    put("state.advance_watermark", "state.advance_watermark")
    for stage in ("bronze_ingest", "silver_snapshot", "silver_merge", "gold"):
        put(f"medallion.{stage}", f"medallion.{stage}")
    put("expectations.validate", "expectations.validate")
    m["expectations.violations"] = float(
        sum(s.extra.get("violations", 0) for s in tree.by_name("expectations.validate"))
    )
    ops = [s for s in tree.spans if s.name.startswith("op.")]
    m["spark.driver_gap_s"] = sum(tree.driver_gap(s) for s in ops)

    merges = tree.by_name("sinks.merge_upsert")
    written = float(sum(s.extra.get("bytes_written", 0) for s in merges))
    landed = float(
        sum(
            s.extra.get("bytes", 0)
            for s in tree.by_name("medallion.bronze_ingest")
            if any(a.extra.get("op", "").startswith("inc") for a in tree.ancestors(s))
        )
    )
    m["sinks.merge_upsert.s"] = tree.inclusive("sinks.merge_upsert")[0]
    m["sinks.merge_upsert.bytes_written"] = written
    m["sinks.merge_upsert.write_amp"] = written / landed if landed else 0.0
    m["catalog.write.s"] = tree.inclusive("catalog.write")[0]
    m["catalog.write.bytes"] = float(sum(s.extra.get("bytes", 0) for s in tree.by_name("catalog.write")))
    m["csv_landing.read_landing_csv.s"] = tree.inclusive("csv_landing.read_landing_csv")[0]
    rows, nulls = probes.landing_counts()
    m["csv_landing.read_landing_csv.rows"] = float(rows)
    m["csv_landing.read_landing_csv.null_ts"] = float(nulls)
    s, _, calls = tree.inclusive("catalog.load_table")
    m["catalog.load_table.calls"] = float(calls)
    m["catalog.load_table.s"] = s
    for fn in ("pagerank", "bfs_hops", "temporal_reachability"):
        put(f"graph.{fn}", f"ops.graph.{fn}")
    m.update(spark_totals(all_jobs, stages))
    for layer, secs in sorted(tree.layer_self_seconds(layer_of).items()):
        m[f"layer.{layer}.self_s"] = secs
    for layer in LAYER_NAMES:
        m.setdefault(f"layer.{layer}.self_s", 0.0)
    return m


def traced_jobs(tree: SpanTree, jobs: list[dict], extra_groups=()) -> list[dict]:
    groups = set(tree.by_id) | set(extra_groups)
    return [j for j in jobs if j.get("jobGroup") in groups]

