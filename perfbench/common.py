"""Run context shared by the workloads: environment pinning, session
start, memory peaks and the streaming progress summary."""

from __future__ import annotations

import json
import os
import resource
import shutil
import subprocess
from dataclasses import dataclass, field

from perfbench.stats import percentile
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


@dataclass
class Ctx:
    """Everything a workload needs: its seed and budget, a private work
    directory inside the checkout, and the tracer."""

    workload: str
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    cpus: int
    master: str = ""
    detail: dict = field(default_factory=dict)
    trace_cost_s: float = 0.0  # building spans and scraping status, outside the timed walls

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def pin_environment(work: str, cpus: int) -> None:
    """Keep every file the engine writes inside ``work`` and size the
    local master to the box. Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "index")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"  # the same heap on every box; the library default is 8g
    # -XX:-UsePerfData: HotSpot otherwise writes /tmp/hsperfdata_<user>,
    # from the Spark driver JVM and from the launcher JVM spark-submit runs.
    opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{opts}" pyspark-shell'
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(ctx: Ctx):
    """The library's own session factory, on ``local[<cpus>]``."""
    from nt_etl_order_book_spark.session import get_spark, tune_session

    with ctx.tracer.span("session.start", "session"):
        spark = get_spark(f"perfbench-{ctx.workload}")
        tune_session(spark)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.master = spark.sparkContext.master
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def fresh_index_dir(ctx: Ctx) -> None:
    """Point the artifact cache at an empty directory so no persisted
    train-once artifact is ever read back warm."""
    root = os.environ["SPARK_GRAFT_INDEX_DIR"]
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, mode=0o700)


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters from ``/proc/stat``
    (user, nice, system, idle, iowait, irq, softirq, steal, ...); empty
    where there is no ``/proc/stat``."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings: on a shared VM, what slows a whole run."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def rss_peaks_mb(spark) -> dict[str, float]:
    """Peak resident memory of the Python driver (this process) and the JVM."""
    driver = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return {"proc.driver_rss_peak_mb": driver, "proc.jvm_rss_peak_mb": jvm}


# ---------------------------------------------------------- streaming

# Micro-batch phases in the order MicroBatchExecution runs them; the
# progress event reports each one's duration.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def progress_events(query) -> list[dict]:
    """Data-carrying progress events of a streaming query, as dicts."""
    return [json.loads(p.json) for p in query.recentProgress if p.numInputRows > 0]


def _med(xs: list[float]) -> float:
    return percentile(xs, 50) if xs else 0.0


def summarize_progress(name: str, events: list[dict]) -> dict[str, float]:
    """Per-query layer metrics from its progress events, keyed
    ``<name>.<metric>``; zeros when the query ran no data batch."""
    d = [e["durationMs"] for e in events]

    def phase(key: str) -> list[float]:
        return [float(x.get(key, 0)) for x in d]

    trig = phase("triggerExecution")
    out = {
        "batches": float(len(events)),
        "rows_per_batch_p50": _med([float(e["numInputRows"]) for e in events]),
        "trigger_ms_p50": _med(trig),
        "trigger_ms_p90": percentile(trig, 90) if trig else 0.0,
        "add_batch_ms_p50": _med(phase("addBatch")),
        "query_planning_ms_p50": _med(phase("queryPlanning")),
        "wal_commit_ms_p50": _med(phase("walCommit")),
        "commit_offsets_ms_p50": _med(phase("commitOffsets")),
        "latest_offset_ms_p50": _med(phase("latestOffset")),
    }
    ops = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
    if ops:
        out.update({
            "state_stores": float(max(o.get("numStateStoreInstances") or o.get("numShufflePartitions", 0) for o in ops)),
            "state_commit_ms_p50": _med([float(o.get("commitTimeMs", 0)) for o in ops]),
            "state_rows_peak": float(max(o.get("numRowsTotal", 0) for o in ops)),
            "state_bytes_peak": float(max(o.get("memoryUsedBytes", 0) for o in ops)),
        })
    return {f"{name}.{k}": v for k, v in out.items()}


def trace_batches(tracer: Tracer, name: str, events: list[dict], parent: Span | None) -> None:
    """One span per micro-batch from its progress event, with its phases
    laid end to end as child spans in execution order."""
    if not tracer.enabled:
        return
    from datetime import datetime

    for e in events:
        start = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
        d = e["durationMs"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        tracer.add(f"{name}.batch{e['batchId']}", f"stream.{name}", start, end, parent, query=name)
        batch = tracer.spans[-1]
        t = start
        for ph in PHASES:
            dur = d.get(ph, 0) / 1000.0
            tracer.add(f"{name}.{ph}", f"stream.{name}.{ph}", t, t + dur, batch)
            t += dur


@dataclass
class Outcome:
    """What a workload hands back: end-to-end values (``latency_ms``
    samples, ``throughput_per_s``), per-layer values, and the
    attempted/failed operation counts the output checks produced.
    ``latency_sources`` is how many independent events the latency
    samples come from, when fewer than the samples: many messages share
    one sink commit."""

    latency_ms: list[float]
    throughput_per_s: float
    layers: dict[str, float]
    attempted: int
    failed: int
    latency_sources: int | None = None
