"""Streaming scale probe: throughput + state size vs replay volume and
micro-batch size (r4 verdict item 4).

The per-round bench reports ONE msg/s number at one shape (20k msgs,
4 files, single availableNow drain). This probe maps the surface that
number sits on:

- replay volume 1x (20k msgs) and 10x (200k msgs), same 32-file layout;
- maxFilesPerTrigger in {1, 4, 16, all}: 32 / 8 / 2 / 1 micro-batches;
- the STATEFUL delta pipeline (dropDuplicatesWithinWatermark on
  redis_stream_id), so every run carries the dedup state store —
  state rows + memoryUsedBytes are captured per batch via
  BookPipelineListener (the same listener a deployment would ship
  metrics with).

--third-decade (r12 verdict item 6) adds the state-BOUNDEDNESS datum
the volume sweep can't show: sustained rate AND peak state-store
rows/MiB for the two custom stateful twins while volume grows 10x/100x:

- dedup_docs_stream at two watermark horizons over the same replay —
  a horizon shorter than the replay's event-time span must cap state
  at (arrival rate x horizon) while an effectively-unbounded horizon
  retains every digest: state tracks the HORIZON, not the corpus;
- stream_heavy_hitters across 1x/10x/100x volume at fixed key count —
  state rows stay = n_keys and MiB ~flat (<= K counters per key)
  while processed messages grow 100x: state tracks K, not volume;
- the deltas pipeline itself at 100x (2M msgs), extending the r4-era
  1x/10x sweep a decade.

Prints a markdown table + one JSON line; PERF.md records the result and
names the limiting resource.

Usage: python tools/stream_scale_probe.py [--quick|--third-decade]
  --quick: 1x volume only, {4, all} triggers (CI-speed smoke).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nt_etl_order_book_spark.session import get_spark
from nt_etl_order_book_spark.streaming.metrics import BookPipelineListener, MetricsCollector
from nt_etl_order_book_spark.streaming.pipeline import deltas_query, read_json_stream

N_FILES = 32
BASE_MSGS = 20_000


def state_summary(batches) -> dict:
    """Peak state rows/MiB and the state-store count a shape ran at."""
    return {
        "state_stores": max((b.state_stores or 0 for b in batches), default=0),
        "peak_state_rows": max((b.state_rows or 0 for b in batches), default=0),
        "peak_state_mib": round(max((b.state_bytes or 0 for b in batches), default=0) / (1 << 20), 2),
    }


def write_replay(msg_dir: str, n_msgs: int) -> None:
    os.makedirs(msg_dir)
    per_file = n_msgs // N_FILES
    for f in range(N_FILES):
        lines = []
        for i in range(f * per_file, (f + 1) * per_file):
            lines.append(
                json.dumps(
                    {
                        "type": "orderbook_delta",
                        "sid": 1,
                        "seq": i,
                        "market_ticker": f"KXB-{i % 50}",
                        "market_id": f"m{i % 50}",
                        "price": 40 + i % 20,
                        "price_dollars": (40 + i % 20) / 100.0,
                        "delta": (i % 41) - 20,
                        "side": "yes" if i % 2 else "no",
                        "ts": 1_700_000_000_000 + i,
                        "ingestion_ts": 1_700_000_000_000 + i,
                        "redis_stream_id": f"170-{i}",
                    }
                )
            )
        with open(os.path.join(msg_dir, f"part{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines))


def run_shape(spark, msg_dir: str, n_msgs: int, trigger: int | None) -> dict:
    collector = MetricsCollector()
    listener = BookPipelineListener(collector)
    spark.streams.addListener(listener)
    root = tempfile.mkdtemp(prefix="probe_out_")
    try:
        t0 = time.time()
        msgs = read_json_stream(spark, msg_dir, max_files_per_trigger=trigger)
        q = deltas_query(
            msgs,
            os.path.join(root, "out"),
            os.path.join(root, "cp"),
            dedup_within="10 minutes",
        )
        q.awaitTermination(1800)
        wrote = spark.read.parquet(os.path.join(root, "out")).count()
        elapsed = time.time() - t0
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(root, ignore_errors=True)
    assert wrote == n_msgs, f"sink wrote {wrote}, expected {n_msgs}"
    batches = [b for b in collector.batches if b.num_input_rows > 0]
    return {
        "volume_msgs": n_msgs,
        "max_files_per_trigger": trigger if trigger is not None else N_FILES,
        "n_batches": len(batches),
        "elapsed_sec": round(elapsed, 2),
        "msgs_per_sec": round(n_msgs / elapsed, 1),
        **state_summary(batches),
    }


def write_docs_replay(msg_dir: str, n_msgs: int, span_ms: int) -> None:
    """Document-arrival replay: ingest_ts advances uniformly across the
    files so the whole replay covers ``span_ms`` of EVENT time (the
    watermark has something to advance against), and every payload
    arrives exactly twice back-to-back — a 50% crawl-refetch rate whose
    dup pairs are always within any sane horizon."""
    os.makedirs(msg_dir)
    per_file = n_msgs // N_FILES
    step = span_ms // n_msgs
    base = 1_700_000_000_000
    for f in range(N_FILES):
        lines = []
        for i in range(f * per_file, (f + 1) * per_file):
            lines.append(
                json.dumps(
                    {
                        "doc_id": i,
                        "text": f"crawl payload body {i // 2}",
                        "ingest_ts": base + i * step,
                    }
                )
            )
        with open(os.path.join(msg_dir, f"part{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines))


def run_dedup_docs(spark, msg_dir: str, n_msgs: int, horizon: str) -> dict:
    from nt_etl_order_book_spark.streaming.pipeline import dedup_docs_stream

    collector = MetricsCollector()
    listener = BookPipelineListener(collector)
    spark.streams.addListener(listener)
    root = tempfile.mkdtemp(prefix="probe_dedup_")
    try:
        t0 = time.time()
        stream = (
            spark.readStream.schema("doc_id long, text string, ingest_ts long")
            .option("maxFilesPerTrigger", 4)
            .json(msg_dir)
        )
        q = (
            dedup_docs_stream(stream, watermark=horizon)
            .writeStream.format("parquet")
            .option("path", os.path.join(root, "out"))
            .option("checkpointLocation", os.path.join(root, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        wrote = spark.read.parquet(os.path.join(root, "out")).count()
        elapsed = time.time() - t0
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(root, ignore_errors=True)
    assert wrote == n_msgs // 2, f"dedup sink wrote {wrote}, expected {n_msgs // 2}"
    batches = [b for b in collector.batches if b.num_input_rows > 0]
    return {
        "op": "dedup_docs_stream",
        "volume_msgs": n_msgs,
        "horizon": horizon,
        "distinct_digests": n_msgs // 2,
        "n_batches": len(batches),
        "elapsed_sec": round(elapsed, 2),
        "msgs_per_sec": round(n_msgs / elapsed, 1),
        **state_summary(batches),
    }


def write_hh_replay(msg_dir: str, n_msgs: int, n_keys: int) -> None:
    """Keyed token replay: fixed key population, zipf-ish token mix
    (every 3rd token is one of 7 hot tokens; the rest cycle a 499-token
    cold tail) — the shape where Misra-Gries' <=K-counter bound earns
    its keep."""
    os.makedirs(msg_dir)
    per_file = n_msgs // N_FILES
    for f in range(N_FILES):
        lines = []
        for i in range(f * per_file, (f + 1) * per_file):
            tok = f"hot{i % 7}" if i % 3 == 0 else f"cold{i % 499}"
            lines.append(json.dumps({"key": f"k{i % n_keys}", "token": tok}))
        with open(os.path.join(msg_dir, f"part{f:03d}.json"), "w") as fh:
            fh.write("\n".join(lines))


def run_heavy_hitters(spark, msg_dir: str, n_msgs: int, n_keys: int) -> dict:
    from nt_etl_order_book_spark.streaming.stateful import STREAM_MG_K, stream_heavy_hitters

    collector = MetricsCollector()
    listener = BookPipelineListener(collector)
    spark.streams.addListener(listener)
    root = tempfile.mkdtemp(prefix="probe_hh_")
    try:
        t0 = time.time()
        stream = (
            spark.readStream.schema("key string, token string")
            .option("maxFilesPerTrigger", 4)
            .json(msg_dir)
        )
        q = (
            stream_heavy_hitters(stream, key_col="key", token_col="token")
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(root, "cp"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1800)
        elapsed = time.time() - t0
    finally:
        spark.streams.removeListener(listener)
        shutil.rmtree(root, ignore_errors=True)
    batches = [b for b in collector.batches if b.num_input_rows > 0]
    return {
        "op": "stream_heavy_hitters",
        "volume_msgs": n_msgs,
        "n_keys": n_keys,
        "mg_k": STREAM_MG_K,
        "n_batches": len(batches),
        "elapsed_sec": round(elapsed, 2),
        "msgs_per_sec": round(n_msgs / elapsed, 1),
        **state_summary(batches),
    }


def third_decade(spark) -> list[dict]:
    rows = []
    # dedup_docs_stream: same 200k replay spanning 160 min of event
    # time, horizon 10 min (bounded) vs 1000 hours (retain-everything).
    span_ms = 160 * 60 * 1000
    for n_msgs in (10 * BASE_MSGS, 100 * BASE_MSGS):
        msg_root = tempfile.mkdtemp(prefix="probe_docs_")
        msg_dir = os.path.join(msg_root, "msgs")
        write_docs_replay(msg_dir, n_msgs, span_ms)
        try:
            for horizon in ("10 minutes", "1000 hours"):
                r = run_dedup_docs(spark, msg_dir, n_msgs, horizon)
                rows.append(r)
                print(f"# {r}", file=sys.stderr)
        finally:
            shutil.rmtree(msg_root, ignore_errors=True)
    # stream_heavy_hitters: fixed 20-key population, volume x100.
    for n_msgs in (BASE_MSGS, 10 * BASE_MSGS, 100 * BASE_MSGS):
        msg_root = tempfile.mkdtemp(prefix="probe_hh_msgs_")
        msg_dir = os.path.join(msg_root, "msgs")
        write_hh_replay(msg_dir, n_msgs, n_keys=20)
        try:
            r = run_heavy_hitters(spark, msg_dir, n_msgs, n_keys=20)
            rows.append(r)
            print(f"# {r}", file=sys.stderr)
        finally:
            shutil.rmtree(msg_root, ignore_errors=True)
    # deltas pipeline at 100x — the r4 sweep's third decade.
    msg_root = tempfile.mkdtemp(prefix="probe_msgs_")
    msg_dir = os.path.join(msg_root, "msgs")
    write_replay(msg_dir, 100 * BASE_MSGS)
    try:
        for trig in (4, None):
            r = run_shape(spark, msg_dir, 100 * BASE_MSGS, trig)
            r["op"] = "deltas_pipeline"
            rows.append(r)
            print(f"# {r}", file=sys.stderr)
    finally:
        shutil.rmtree(msg_root, ignore_errors=True)
    return rows


def main() -> int:
    quick = "--quick" in sys.argv[1:]
    if "--third-decade" in sys.argv[1:]:
        spark = get_spark("stream-probe-3rd")
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
        rows = third_decade(spark)
        print(
            "| op | volume | horizon/keys | batches | wall s | msg/s "
            "| state stores | peak state rows | peak state MiB |"
        )
        print("|---|---|---|---|---|---|---|---|---|")
        for r in rows:
            bound = r.get("horizon") or (
                f"{r['n_keys']} keys x K={r['mg_k']}" if "n_keys" in r else "-"
            )
            print(
                f"| {r.get('op', 'deltas_pipeline')} | {r['volume_msgs']:,} | {bound} | "
                f"{r['n_batches']} | {r['elapsed_sec']} | {r['msgs_per_sec']:,} | "
                f"{r['state_stores']} | {r['peak_state_rows']:,} | {r['peak_state_mib']} |"
            )
        print(json.dumps({"metric": "stream_third_decade", "rows": rows}))
        return 0
    volumes = [BASE_MSGS] if quick else [BASE_MSGS, 10 * BASE_MSGS]
    triggers: list[int | None] = [4, None] if quick else [1, 4, 16, None]
    spark = get_spark("stream-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    rows = []
    for n_msgs in volumes:
        msg_root = tempfile.mkdtemp(prefix="probe_msgs_")
        msg_dir = os.path.join(msg_root, "msgs")
        write_replay(msg_dir, n_msgs)
        try:
            for trig in triggers:
                r = run_shape(spark, msg_dir, n_msgs, trig)
                rows.append(r)
                print(f"# {r}", file=sys.stderr)
        finally:
            shutil.rmtree(msg_root, ignore_errors=True)

    print(
        "| volume | files/trigger | batches | wall s | msg/s "
        "| state stores | state rows | state MiB |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['volume_msgs']:,} | {r['max_files_per_trigger']} | "
            f"{r['n_batches']} | {r['elapsed_sec']} | {r['msgs_per_sec']:,} | "
            f"{r['state_stores']} | {r['peak_state_rows']:,} | {r['peak_state_mib']} |"
        )
    print(json.dumps({"metric": "stream_scale_probe", "rows": rows}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
