"""Process-level plumbing shared by the workloads: environment, Spark
session, per-operation accounting, driver-log capture and peak RSS."""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import sys
import time
from dataclasses import dataclass, field

from spans import Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

# Driver-log ERROR lines that are known noise, each with its reason. A line
# matching none of these counts as unexplained.
KNOWN_ERRORS = (
    (
        re.compile(r"ERROR DAGScheduler: Failed to update accumulator \d+ .*for task"),
        "Spark logs a task's update to an accumulator the driver already "
        "garbage-collected (checkpointed or observed frames freed mid-job, "
        "e.g. llm_corpus_pipeline_v2); results are unaffected.",
    ),
)
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")


@dataclass
class Op:
    name: str
    kind: str
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class Ctx:
    """What a workload sees: the session, its work directory, the seed, the
    tracer of the current phase and the operation ledger."""

    spark: object
    work: str
    seed: int
    tracer: Tracer
    ops: list[Op] = field(default_factory=list)

    @contextlib.contextmanager
    def op(self, name: str, kind: str):
        """Time one operation. A failure is recorded with the operation's
        name and exception class and does not abort the workload; the
        caller learns of it from ``Op.ok``."""
        rec = Op(name, kind, 0.0, True)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", op=name):
                yield rec
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            rec.ok = False
            rec.error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"
        finally:
            rec.seconds = time.perf_counter() - t0
            self.ops.append(rec)

    def fail(self, name: str, kind: str, error: str) -> None:
        """Record an operation whose output was wrong."""
        self.ops.append(Op(name, kind, 0.0, False, error))


def prepare_environment(work: str) -> None:
    """Keep every file the run creates inside ``work`` and make the
    package importable by the driver and by Python workers, whatever the
    current directory is."""
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp
    # Python workers are forked by the JVM, which inherits this environment;
    # without the repo root on their path the Arrow-path queries fail with
    # ModuleNotFoundError when the benchmark runs from another directory.
    parts = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(parts))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def session_confs(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # Every run is a fresh JVM that lives about a minute. With the default
        # tiered JIT, when C2 finishes compiling the hot paths decides much of
        # a run's time (pass times spread 17-25% across runs); C1 alone warms
        # up fast and predictably (about 3%). See README.md, "Measurement".
        # (C1 alone defaults to a 48 MB code cache, which fills up during a
        # run and turns the JIT off; keep the tiered default's 240 MB.)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
        ),
        # the traced run reads every job and stage back from the UI
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(work: str, cores: int):
    from smartpool_bigdata_spark.session import get_spark

    spark = get_spark(
        app_name="lakebench", master=f"local[{cores}]", extra_confs=session_confs(work)
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_warmup(spark, work: str) -> None:
    """One tiny job per operator family the workloads use (parquet write
    and scan, shuffle aggregate, window, broadcast join, collect), so the
    first timed operation does not pay for class loading alone."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup.parquet")
    spark.range(0, 2000).selectExpr(
        "id", "id % 7 AS k", "CAST(id AS double) * 1.5 AS v", "timestamp_seconds(id * 60) AS ts"
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    latest = df.withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy(F.col("ts").desc())))
    totals = df.groupBy("k").agg(F.sum("v").alias("s"))
    latest.filter("rn = 1").join(F.broadcast(totals), "k").collect()


def stop_jvm() -> None:
    """Stop the Spark context, then the JVM the gateway launched and the
    processes it started (Python workers), and wait for all of them."""
    import signal

    from pyspark import SparkContext

    root = jvm_pid()
    started = [p for p in _tree([root]) if p != root] if root else []
    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 10
    while started and time.time() < deadline:
        started = [p for p in started if _proc_stat(p) is not None and _proc_stat(p)[1][0] != "Z"]
        time.sleep(0.1)
    for pid in started:
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


class LogCapture:
    """Route fds 1 and 2, which the JVM inherits, into a file, so that
    driver-log lines can be counted and nothing the JVM prints can follow
    the result line. ``say`` writes to the real stderr, ``result`` to the
    real stdout."""

    def __init__(self, path: str):
        self.path = path
        self._saved = {fd: os.dup(fd) for fd in (1, 2)}
        self._file = open(path, "ab", buffering=0)
        for fd in self._saved:
            os.dup2(self._file.fileno(), fd)
        self.real = os.fdopen(os.dup(self._saved[2]), "w", buffering=1)
        self.out = os.fdopen(os.dup(self._saved[1]), "w", buffering=1)

    def say(self, msg: str) -> None:
        self.real.write(msg + "\n")

    def result(self, line: str) -> None:
        self.out.write(line + "\n")
        self.out.flush()

    def mark(self) -> int:
        return os.path.getsize(self.path)

    def errors_since(self, offset: int) -> tuple[int, int, dict[str, int]]:
        """(ERROR lines, unexplained ERROR lines, allowlisted counts)."""
        with open(self.path, "rb") as f:
            f.seek(offset)
            text = f.read().decode(errors="replace")
        total, unexplained, known = 0, 0, {}
        for line in text.splitlines():
            if not ERROR_LINE.match(line):
                continue
            total += 1
            for rx, reason in KNOWN_ERRORS:
                if rx.search(line):
                    known[reason] = known.get(reason, 0) + 1
                    break
            else:
                unexplained += 1
        return total, unexplained, known

    def close(self) -> None:
        sys.stdout.flush()
        for fd, saved in self._saved.items():
            os.dup2(saved, fd)
            os.close(saved)
        self.real.close()
        self.out.close()
        self._file.close()


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    pid = jvm_pid()
    return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(pid) if pid else 0.0)


def _proc_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    fields = text[text.rindex(")") + 2 :].split()  # after "pid (comm) "
    return int(fields[1]), fields


def _tree(roots: list[int]) -> dict[int, list[str]]:
    """/proc stat fields of ``roots`` and all their descendants."""
    children: dict[int, list[int]] = {}
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st[1]
                children.setdefault(st[0], []).append(int(name))
    todo, out = list(roots), {}
    while todo:
        pid = todo.pop()
        if pid in out or pid not in stats:
            continue
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """CPU time (user + system, including reaped children) used so far by
    this process and the driver JVM with everything it started (task
    threads, JIT, GC and Python workers)."""
    root = jvm_pid()
    procs = {os.getpid(): _proc_stat(os.getpid())[1], **(_tree([root]) if root else {})}
    ticks = sum(int(f[i]) for f in procs.values() for i in (11, 12, 13, 14))
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
