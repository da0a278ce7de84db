#!/usr/bin/env python3
"""lakebench — end-to-end benchmark of the smartpool lakehouse engine.

    python3 lakebench/run.py --workload medallion_batch --seed 1 --seconds 20 --trace 0

Workloads: ``medallion_batch``, ``gold_queries``, ``sensor_stream`` (see
lakebench/README.md). The run builds its inputs from ``--seed``, sets up
(Spark session, inputs, warm-up) three times and reports the median set-up
time, measures for ``--seconds``, checks every output against DuckDB
outside the timed region, and prints one JSON object as its last line:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, or the
per-layer metrics from a traced run with ``--trace 1``. The line before it
is a JSON report with every metric the workload measured, the failed
operations and the driver-log health counters.

Exit status: 0 when every output is correct, 1 when an output is wrong,
2 when the engine cannot be imported or the run cannot start.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

T_PROCESS = time.time()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("ingest", "gold_queries")
SETUPS = 3


def unit_of(name: str) -> str:
    """Unit of a report-line metric, from its name."""
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_per_input_byte")):
        return "ratio"
    return "count"


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import harness

    try:
        import importlib

        if harness.REPO_ROOT not in sys.path:
            sys.path.insert(0, harness.REPO_ROOT)
        import smartpool_bigdata_spark  # noqa: F401

        mod = importlib.import_module(args.workload)
        spec = _load_spec()
    except (ImportError, OSError) as exc:
        print(f"lakebench: cannot start: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_environment(work)
    os.environ["TZ"] = "UTC"
    time.tzset()

    log = harness.LogCapture(os.path.join(work, "driver.log"))
    try:
        return _run(args, mod, spec, work, log)
    except Exception:
        import traceback

        log.say(traceback.format_exc())
        return 2
    finally:
        harness.stop_jvm()
        log.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if nothing else is in it


def _run(args, mod, spec: dict, work: str, log) -> int:
    import harness
    import layers
    from spans import SpanTree, Tracer, fetch_jobs_and_stages

    say = log.say
    spark, setups, get_spark_s = None, [], []
    for i in range(SETUPS):
        t0 = T_PROCESS if i == 0 else time.time()
        if spark is not None:
            spark.stop()
        tg = time.time()
        spark = harness.start_session(work, len(os.sched_getaffinity(0)))
        get_spark_s.append(time.time() - tg)
        ctx = harness.Ctx(spark, os.path.join(work, f"setup{i}"), args.seed, Tracer())
        state = mod.prepare(ctx)
        mod.warmup(ctx, state)
        setups.append(time.time() - t0)
        say(f"lakebench: setup {i + 1}/{SETUPS} {setups[-1]:.2f}s")
    ctx.ops.clear()  # warm-up operations are not part of the measurement
    mark = log.mark()

    layer = {}
    cpu0 = harness.cpu_seconds()
    if args.trace:
        tracer = Tracer(spark, f"t{os.getpid()}", enabled=True)
        probes = layers.Probes()
        ctx.tracer = tracer
        restore = layers.instrument(tracer, probes)
        try:
            passes = mod.measure(ctx, state, args.seconds)
            cpu1 = harness.cpu_seconds()
        finally:
            restore()
            ctx.tracer = Tracer()
        jobs, stages = fetch_jobs_and_stages(spark)
        tree = SpanTree(tracer.spans, jobs)
        extra = mod.layer_metrics(ctx, tree, passes)
        groups = extra.pop("_job_groups", ())
        layer = layers.span_metrics(tree, probes, layers.traced_jobs(tree, jobs, groups), stages)
        layer.update(extra)
        layer["session.get_spark_s"] = get_spark_s[0]
        layer["trace.overhead_s"] = tracer.own_s
        layer["trace.pass_s"] = mod.metrics(ctx, state, passes)["pass_s"]
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        passes = mod.measure(ctx, state, args.seconds)
        cpu1 = harness.cpu_seconds()
    pass_cpu_s = (cpu1 - cpu0) / len(passes)

    problems = mod.check(ctx, state, passes)
    e2e = mod.metrics(ctx, state, passes)
    e2e["pass_cpu_s"] = pass_cpu_s
    e2e["setup_s"] = sorted(setups)[len(setups) // 2]
    e2e["setup_cold_s"] = setups[0]
    e2e["peak_rss_mb"] = layer["peak_rss_mb"] = harness.peak_rss_mb()
    attempted = len(ctx.ops)
    failed = sum(not o.ok for o in ctx.ops)
    e2e["ops_failed_frac"] = failed / max(attempted, 1)
    n_err, n_unexplained, known = log.errors_since(mark)
    layer["log.error_lines"] = float(n_err)
    layer["log.error_lines_unexplained"] = float(n_unexplained)

    section = "per_layer" if args.trace else "end_to_end"
    values = layer if args.trace else e2e
    out = {}
    for m in spec[section]:
        v = values.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    report = {
        "report": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()},
        "per_layer": layer,
        "known_error_lines": known,
        "ops": {o.name: round(o.seconds, 3) for o in ctx.ops if o.kind != "microbatch"},
        "failed_ops": [f"{o.name}: {o.error}" for o in ctx.ops if not o.ok][:20],
        "problems": problems[:20],
    }
    harness.stop_jvm()  # nothing the JVM prints on exit may follow the result
    log.result(json.dumps(report, default=float))
    correct = not problems and not failed
    log.result(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
