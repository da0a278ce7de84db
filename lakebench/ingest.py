"""ingest — the paper's three ingestion modes in one run.

The batch phase (``medallion_batch``) builds a fresh lake: a full load of
a 20-day history and a daily increment, each landing an hourly price CSV.
The stream phase (``sensor_stream``) then drains a backlog through the
4-query sensor topology and keeps it running on live input. Both write
heavily and issue many small Spark jobs; neither touches ``ops.graph``.
"""

from __future__ import annotations

import time

import medallion_batch
import sensor_stream
from harness import Ctx, jvm_warmup


def prepare(ctx: Ctx) -> dict:
    return {"batch": medallion_batch.prepare(ctx), "stream": sensor_stream.prepare(ctx)}


def warmup(ctx: Ctx, state: dict) -> None:
    jvm_warmup(ctx.spark, ctx.work)


def measure(ctx: Ctx, state: dict, seconds: float) -> list[dict]:
    passes, t0 = [], time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        tag = f"p{len(passes)}"
        batch = medallion_batch.run(ctx, state["batch"], tag)
        stream = sensor_stream.run(ctx, state["stream"], tag)
        passes.append({"batch": batch, "stream": stream, "pass_s": batch["pass_s"] + stream["catchup_s"]})
    return passes


def check(ctx: Ctx, state: dict, passes: list[dict]) -> list[str]:
    last = passes[-1]
    return medallion_batch.check(ctx, state["batch"], last["batch"]) + sensor_stream.check(
        ctx, state["stream"], last["stream"]
    )


def metrics(ctx: Ctx, state: dict, passes: list[dict]) -> dict:
    from stats import median

    out = {"pass_s": median([p["pass_s"] for p in passes])}
    out.update(medallion_batch.metrics(state["batch"], [p["batch"] for p in passes]))
    out.update(sensor_stream.metrics([p["stream"] for p in passes]))
    out["op_latency_s"] = out.get("stream_latency_p50_s", float("nan"))
    return out


def layer_metrics(ctx: Ctx, tree, passes: list[dict]) -> dict:
    return sensor_stream.layer_metrics([p["stream"] for p in passes])
