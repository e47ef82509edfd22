"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the library in this checkout on
``local[<cores>]`` and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a detail record (core count, master URL, sample
counts, per-query walls, CPU steal share, self time per layer). Everything the run
writes stays under ``.perfbench_work/`` in the checkout; the traced run
leaves its spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import (  # noqa: E402
    WORK_ROOT,
    Ctx,
    Outcome,
    cpu_count,
    cpu_ticks,
    pin_environment,
    rss_peaks_mb,
    start_session,
    steal_share,
    stop_session,
)
from perfbench.stats import percentile, summary  # noqa: E402
from perfbench.trace import Tracer, coverage, self_times  # noqa: E402


def load_spec() -> dict:
    """``BENCHMARK.json``: the workloads and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(spec: dict, argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _runner(workload: str):
    from perfbench import drain, queries

    return {"ingest_drain": drain.run_drain, "queries": queries.run_queries}[workload]


def stream_coverage(spans) -> float:
    """Lowest share of a micro-batch's trigger time its phase spans cover."""
    batches = [s for s in spans if s.layer.startswith("stream.") and s.layer.count(".") == 1]
    return min((coverage(b, spans) for b in batches if b.dur > 0), default=0.0)


def end_to_end(outcome: Outcome, setup_s: float) -> dict[str, float]:
    lat = outcome.latency_ms
    return {
        "latency_ms_p50": percentile(lat, 50) if lat else 0.0,
        "latency_ms_p90": percentile(lat, 90) if lat else 0.0,
        "throughput_per_s": outcome.throughput_per_s,
        "setup_s": setup_s,
    }


def result_line(outcome: Outcome, values: dict[str, float], declared: list[dict]) -> dict:
    """The last stdout line: every declared metric of the run's kind,
    by name and unit, plus the output-check verdict."""
    return {
        "correct": outcome.failed == 0 and bool(outcome.latency_ms) and outcome.throughput_per_s > 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared},
    }


def layer_values(spec: dict, measured: dict[str, float]) -> dict[str, float]:
    """Every declared per-layer metric; a layer the workload never
    touched reads 0. A measured name that is not declared is a bug."""
    values = {m["name"]: 0.0 for m in spec["per_layer"]}
    unknown = set(measured) - set(values)
    if unknown:
        raise ValueError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    values.update(measured)
    return values


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    args = parse_args(spec, argv)
    t_begin = time.time()
    ticks = cpu_ticks()
    cpus = cpu_count()
    try:
        import nt_etl_order_book_spark  # noqa: F401  the library under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, cpus)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args.workload, args.seed, args.seconds, tracer, work, cpus)
    spark = None
    try:
        spark = start_session(ctx)
        outcome = _runner(args.workload)(spark, ctx)
        mem = rss_peaks_mb(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = ctx.detail.pop("setup_done") - t_begin
    e2e = end_to_end(outcome, setup_s)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "master": ctx.master,
        "latency_ms": summary(outcome.latency_ms, sources=outcome.latency_sources) if outcome.latency_ms else {"n": 0},
        "failed_share": outcome.failed / outcome.attempted if outcome.attempted else 1.0,
        "run_wall_s": time.time() - t_begin,
        "cpu_steal_share": steal_share(ticks, cpu_ticks()),
        **ctx.detail,
    }
    values, declared = e2e, spec["end_to_end"]
    if args.trace:
        declared = spec["per_layer"]
        values = layer_values(spec, {
            **outcome.layers,
            **mem,
            "trace.query_coverage_min": ctx.detail.get("query_coverage_min", 0.0),
            "trace.stream_coverage_min": stream_coverage(tracer.spans),
        })
        trace_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{run_id}.jsonl"))
        detail["self_s_by_layer"] = {k: round(v, 4) for k, v in sorted(self_times(tracer.spans).items())}
        detail["traced_e2e"] = e2e
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result_line(outcome, values, declared)))
    return 0


if __name__ == "__main__":
    sys.exit(main())  # an uncaught error prints its traceback and exits 1, with no result line
