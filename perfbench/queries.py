"""The closed-loop query workload: one client runs a fixed mix of
registry queries in a seeded order, one query at a time, and waits for
each result before sending the next."""

from __future__ import annotations

import json
import os
import random
import re
import time

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import Ctx, Outcome, fresh_index_dir
from perfbench.trace import union_length

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")

# Order-book and relational queries (analytics, operators.*) over
# events and lineitem ...
BOOK_MIX = ("book_reconstruct", "join_asof", "agg_multi")
# ... and corpus queries (functions.*) over documents and embeddings.
CORPUS_MIX = ("minhash_dedup", "ann_ivfpq_topk", "bpe_merges", "text_stats")
MIX = BOOK_MIX + CORPUS_MIX

# Tables are the same on every run, so their pins are fixed; --seed picks
# the query order. All four tables have the testdata's sf0.1 shape.
DATA_SEED = 42
SCALE = 0.1
# Set-up runs the mix once on tables of this scale, where compiling the
# generated code costs less than on the timed tables (see run_queries).
WARM_SCALE = 0.01


# Seconds one pass over the mix takes on a quiet 4-core box (10-14 s
# measured, depending on how busy the host is); a run measures as many
# whole passes as fit in --seconds at that rate, so the sample count is
# fixed by --seconds and not by how fast this run happens to be.
EST_PASS_S = 10.0


def n_passes(seconds: float) -> int:
    return max(1, int(seconds / EST_PASS_S))


def gen_mix_tables(out_dir: str, scale: float = SCALE) -> None:
    gen.gen_tables(out_dir, scale=scale, seed=DATA_SEED)


QUERY_LAYERS = (
    "registry.build_s", "registry.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "plan.exchanges", "plan.python_nodes",
)

_EXCHANGE = re.compile(r"^[\s:+|-]*(?:\*\(\d+\)\s*)?(?:Exchange|BroadcastExchange|ReusedExchange)\b")
_PYTHON = re.compile(
    r"^[\s:+|-]*(?:\*\(\d+\)\s*)?\w*(?:Python|InPandas|InArrow)\w*\b"
)


def load_pins() -> dict[str, list[int]]:
    with open(PINS) as fh:
        return json.load(fh)


def checksum(df):
    """(row count, bit_xor of xxhash64 over the full row): every output
    column is load-bearing, so no operator is pruned from the plan."""
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
    )


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(exchanges, Python-boundary nodes) in a physical plan string; for
    an adaptive plan only its final plan counts."""
    final = plan_text.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    return (
        sum(1 for line in lines if _EXCHANGE.match(line)),
        sum(1 for line in lines if _PYTHON.match(line)),
    )


class QueryRunner:
    def __init__(self, spark, ctx: Ctx) -> None:
        from nt_etl_order_book_spark import registry

        self.spark = spark
        self.ctx = ctx
        self.fns = registry.queries()
        self.n = 0

    def run(self, name: str, sf_dir: str, scrape: bool = True) -> dict:
        """Time one query from the call into its function to the end of
        its checksum action; in a traced run also scrape its layers,
        after the timed wall, unless ``scrape`` is off."""
        spark, sc, tr = self.spark, self.spark.sparkContext, self.ctx.tracer
        spark.catalog.clearCache()
        fresh_index_dir(self.ctx)
        self.n += 1
        group = f"perfbench-{self.n}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        with tr.span(name, "registry", query=name) as qspan:
            with tr.span("build", "registry"):
                df = self.fns[name](spark, sf_dir)
            t1 = time.time()
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group)) if tr.enabled else 0
            with tr.span("checksum", "exec") as cspan:
                chk = checksum(df)
                row = chk.collect()[0]
            t2 = time.time()
        rec = {"query": name, "wall_s": t2 - t0, "build_s": t1 - t0, "n": row["n"], "h": row["h"]}
        if tr.enabled and scrape:
            c0 = time.time()
            rec.update(self._scrape(group, chk, build_jobs, t2, qspan, cspan))
            self.ctx.trace_cost_s += time.time() - c0
        return rec

    def _scrape(self, group: str, chk, build_jobs: int, t_end: float, qspan, cspan) -> dict:
        sc, tr = self.spark.sparkContext, self.ctx.tracer
        st = sc.statusTracker()
        stages = tasks = failed_tasks = 0
        jobs = st.getJobIdsForGroup(group)
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    stages += 1
                    tasks += si.numTasks
                    failed_tasks += si.numFailedTasks
        qe = chk._jdf.queryExecution()
        jvm = self.spark._jvm
        phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        out = {}
        plan_end = None
        for ph in ("analysis", "optimization", "planning"):
            p = phases.get(ph)
            if p is None:
                out[f"catalyst.{ph}_ms"] = 0.0
                continue
            out[f"catalyst.{ph}_ms"] = float(p.durationMs())
            tr.add(f"catalyst.{ph}", f"catalyst.{ph}", p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0, cspan)
            plan_end = max(plan_end or 0.0, p.endTimeMs() / 1000.0)
        exec_start = plan_end if plan_end is not None else cspan.start
        tr.add("exec.run", "exec", exec_start, t_end, cspan)
        ex, py = plan_counts(qe.executedPlan().toString())
        # Coverage: build + Catalyst phases + execution over the query wall.
        kids = [s for s in tr.spans if s.parent in (qspan.id, cspan.id) and s.id != cspan.id]
        covered = union_length((max(s.start, qspan.start), min(s.end, qspan.end)) for s in kids)
        out.update({
            "registry.build_jobs": float(build_jobs),
            "exec.run_s": t_end - exec_start,
            "exec.jobs": float(len(jobs)),
            "exec.stages": float(stages),
            "exec.tasks": float(tasks),
            "exec.failed_tasks": float(failed_tasks),
            "plan.exchanges": float(ex),
            "plan.python_nodes": float(py),
            "coverage": covered / qspan.dur if qspan.dur > 0 else 1.0,
        })
        return out


def run_queries(spark, ctx: Ctx) -> Outcome:
    data, small = ctx.path("data", ""), ctx.path("warm", "")
    with ctx.tracer.span("tables.generate", "tables"):
        gen_mix_tables(data)
        gen_mix_tables(small, WARM_SCALE)
    pins = load_pins()
    runner = QueryRunner(spark, ctx)
    rng = random.Random(ctx.seed)
    # Set-up: two untimed passes over the mix. The first, on small
    # tables, compiles the generated code; the second, on the timed
    # tables, lets the JIT settle on the plans the timed passes run. With
    # only one pass on the timed tables the first timed pass still ran
    # 10-15% slower than later ones, most in the slowest queries, so the
    # p90 moved with how far the JIT had got (see README.md).
    with ctx.tracer.span("warmup", "registry"):
        for sf_dir in (small, data):
            for name in MIX:
                runner.run(name, sf_dir, scrape=False)
    ctx.detail["setup_done"] = time.time()

    recs: list[dict] = []
    errors: list[str] = []
    pass_walls: list[float] = []
    for _ in range(n_passes(ctx.seconds)):
        order = list(MIX)
        rng.shuffle(order)
        p0 = time.monotonic()
        for name in order:
            try:
                rec = runner.run(name, data)
            except Exception as exc:  # a failing query is a counted failure, not a crash
                errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                recs.append({"query": name, "failed": True})
                continue
            want = pins.get(name)
            if want is None or [rec["n"], rec["h"]] != want:
                errors.append(f"{name}: checksum {[rec['n'], rec['h']]} != pinned {want}")
                rec["failed"] = True
            recs.append(rec)
        pass_walls.append(time.monotonic() - p0)

    ok = [r for r in recs if not r.get("failed")]
    n_pass = len(pass_walls)
    layers = {k: 0.0 for k in QUERY_LAYERS}
    layers["registry.build_s"] = sum(r["build_s"] for r in ok) / n_pass
    if ctx.tracer.enabled:
        for k in QUERY_LAYERS[1:]:
            layers[k] = sum(r.get(k, 0.0) for r in ok) / n_pass
        ctx.detail["query_coverage_min"] = min((r["coverage"] for r in ok), default=0.0)
        layers["trace.scrape_s"] = ctx.trace_cost_s / n_pass
    per_query: dict[str, list[float]] = {}
    for r in ok:
        per_query.setdefault(r["query"], []).append(round(r["wall_s"], 4))
    ctx.detail.update({"passes": n_pass, "per_query_s": per_query})
    if errors:
        ctx.detail["errors"] = errors
    return Outcome(
        latency_ms=[r["wall_s"] * 1000.0 for r in ok],
        # queries per second of the client's waiting time
        throughput_per_s=len(ok) / sum(r["wall_s"] for r in ok) if ok else 0.0,
        layers=layers,
        attempted=len(recs),
        failed=len(recs) - len(ok),
    )
