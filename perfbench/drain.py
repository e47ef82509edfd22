"""The ingest workload: closed-loop backlog drains through the library's
streaming pipeline.

Set-up generates one seeded backlog. The measured drain runs the two
parquet sink queries side by side over it, as a deployment runs them:
``snapshots_query``, and ``deltas_query`` with its replay dedup on (the
library default), both reading the at-least-once buffer. Then the live
book (``streaming_quotes`` through ``applyInPandasWithState``) drains
the same messages into the benchmark's own ``foreachBatch`` sink, and
its last quote per ticker is checked against the batch reconstruction
over the sinks. It runs alone, after the sinks, so it takes no cores
from the timed sink drain; its cost is in the ``quotes.*`` layer
metrics, not in the end-to-end ones.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from nt_etl_order_book_spark.analytics import current_book, quotes
from nt_etl_order_book_spark.streaming.book_state import streaming_quotes
from nt_etl_order_book_spark.streaming.pipeline import deltas_query, read_json_stream, snapshots_query

from perfbench import gen
from perfbench.common import Ctx, Outcome, progress_events, summarize_progress, trace_batches
from perfbench.stats import freshness_ms, sink_log

# One backlog per run, drained one file per micro-batch, so each sink
# commits once per file. The file count gives the timed sink drain about
# DRAIN_SHARE of --seconds at EST_BATCH_S per micro-batch (both sinks
# side by side on 4 cores); the live book after it takes about the rest.
# The count is odd: the median message then sits inside the middle
# batch, while with an even count it sits on the boundary between two
# commits and the p50 would flip between them from run to run.
FILE_MSGS = 2_000
FILES_PER_TRIGGER = 1
EST_BATCH_S = 2.2
DRAIN_SHARE = 0.75
WARM_MSGS = 2_000


def _read_sink(sink: str):
    """(message id -> batch that landed it, batch -> commit ms, rows),
    read from the sink's commit log and data files, not through Spark."""
    files, committed = sink_log(sink)
    landed: dict[str, int] = {}
    rows: list[dict] = []
    for f, batch in sorted(files.items(), key=lambda kv: kv[1]):
        t = pq.read_table(os.path.join(sink, f)).to_pylist()
        rows += t
        for r in t:
            landed.setdefault(r["redis_stream_id"], batch)
    return landed, committed, rows


def _quote_parity(spark, snaps_sink: str, deltas_sink: str, emitted) -> str:
    """The last streamed quote per ticker must equal the batch
    ``quotes(current_book(...))`` over the landed tables."""
    last: dict[str, tuple[int, dict]] = {}
    for batch_id, rows in emitted:
        for r in rows:
            if r["ticker"] not in last or batch_id >= last[r["ticker"]][0]:
                last[r["ticker"]] = (batch_id, r)
    book = current_book(spark.read.parquet(snaps_sink), spark.read.parquet(deltas_sink))
    batch = {r["ticker"]: r for r in quotes(book).collect()}

    def key(r) -> tuple:
        # A ticker with no live level has no batch row and an all-null quote.
        if r is None:
            return (None,) * 3
        return tuple(None if r[c] is None else round(float(r[c]), 4) for c in ("best_bid", "best_ask", "spread"))

    bad = [
        f"{t}: stream {key(last.get(t, (0, None))[1])} != batch {key(batch.get(t))}"
        for t in sorted(set(batch) | set(last))
        if key(last.get(t, (0, None))[1]) != key(batch.get(t))
    ]
    return f"quote parity broken on {len(bad)} tickers, e.g. {bad[:3]}" if bad else ""


def _write_backlog(ctx: Ctx, tag: str, b: gen.Backlog) -> None:
    gen.write_files(ctx.path(tag, "buffer", ""), b.files)
    gen.write_files(ctx.path(tag, "feed", ""), b.clean_files)


def drain_sinks(spark, ctx: Ctx, tag: str, b: gen.Backlog) -> dict:
    """Drain one written backlog through the two sink queries and check
    what landed. Returns the drain wall, landing latencies, the number
    of commits they come from, progress events and errors."""
    snaps_sink, deltas_sink = ctx.path(tag, "snapshots"), ctx.path(tag, "deltas")
    msgs = read_json_stream(spark, ctx.path(tag, "buffer", ""), max_files_per_trigger=FILES_PER_TRIGGER)
    t0 = time.time()
    with ctx.tracer.span(f"{tag}.drain", "streaming.pipeline") as sp:
        with ctx.tracer.span(f"{tag}.start", "streaming.pipeline"):
            qs = {
                "snapshots": snapshots_query(msgs, snaps_sink, ctx.path(tag, "cp_s")),
                "deltas": deltas_query(msgs, deltas_sink, ctx.path(tag, "cp_d")),
            }
        with ctx.tracer.span(f"{tag}.await", "streaming.pipeline"):
            for q in qs.values():
                q.awaitTermination()
    wall = time.time() - t0
    events = {n: progress_events(q) for n, q in qs.items()}
    c0 = time.time()
    for n, ev in events.items():
        trace_batches(ctx.tracer, n, ev, sp)
    ctx.trace_cost_s += time.time() - c0

    errs = {n: f"{n}: {q.exception()}" for n, q in qs.items() if q.exception() is not None}
    d_landed, d_committed, d_rows = _read_sink(deltas_sink)
    s_landed, s_committed, s_rows = _read_sink(snaps_sink)
    got = (len(d_rows), len(d_landed), sum(r["delta"] for r in d_rows))
    want = (len(b.delta_ids), len(b.delta_ids), b.delta_sum)
    if got != want or set(d_landed) != b.delta_ids:
        errs["deltas"] = f"deltas sink (rows, ids, sum(delta)) {got} != {want}"
    got, want = (len(s_rows), sum(r["contracts"] for r in s_rows)), (b.snapshot_levels, b.snapshot_contracts)
    if got != want:
        errs["snapshots"] = f"snapshot sink (levels, contracts) {got} != {want}"
    # Landing latency: the backlog is all there at t0, so each message
    # waits from t0 to the commit of the sink batch that holds its row.
    latency = []
    for landed, committed in ((d_landed, d_committed), (s_landed, s_committed)):
        latency += freshness_ms(dict.fromkeys(landed, t0 * 1000.0), landed, committed)
    commits = len(set(d_landed.values())) + len(set(s_landed.values()))
    return {"wall": wall, "latency": latency, "commits": commits, "events": events, "errors": errs}


def live_book(spark, ctx: Ctx, tag: str, files_per_trigger: int) -> dict:
    """Drain a written backlog's clean feed through the live book, then
    check its last quote per ticker against that backlog's sinks."""
    emitted: list[tuple[int, list]] = []

    def quote_sink(df, batch_id: int) -> None:
        emitted.append((batch_id, df.collect()))

    feed = read_json_stream(spark, ctx.path(tag, "feed", ""), max_files_per_trigger=files_per_trigger)
    with ctx.tracer.span(f"{tag}.live_book", "streaming.book_state") as sp:
        with ctx.tracer.span(f"{tag}.quotes.start", "streaming.book_state"):
            q = (
                streaming_quotes(feed)
                .writeStream.foreachBatch(quote_sink)
                .outputMode("update")
                .option("checkpointLocation", ctx.path(tag, "cp_q"))
                .trigger(availableNow=True)
                .start()
            )
        with ctx.tracer.span(f"{tag}.quotes.await", "streaming.book_state"):
            q.awaitTermination()
    events = progress_events(q)
    c0 = time.time()
    trace_batches(ctx.tracer, "quotes", events, sp)
    ctx.trace_cost_s += time.time() - c0
    if q.exception() is not None:
        err = f"quotes: {q.exception()}"
    else:
        err = _quote_parity(spark, ctx.path(tag, "snapshots"), ctx.path(tag, "deltas"), emitted)
    return {"events": events, "error": err}


def n_files(seconds: float) -> int:
    """Odd file count whose sink drain takes about DRAIN_SHARE of ``seconds``."""
    return 2 * max(1, int(DRAIN_SHARE * seconds / (2 * EST_BATCH_S))) + 1


def run_drain(spark, ctx: Ctx) -> Outcome:
    # Set-up: generate and write the backlog, then drain a small one
    # through the sinks to compile their plans. The live book gets no
    # warm-up: its first batch compiles, so ``quotes.*`` include one
    # cold batch of two (a warm-up costs ~8 s a run).
    files = n_files(ctx.seconds)
    b = gen.gen_backlog(ctx.seed, n_msgs=FILE_MSGS * files, n_files=files)
    _write_backlog(ctx, "main", b)
    warm = gen.gen_backlog(ctx.seed + 7919, n_msgs=WARM_MSGS, n_files=1)
    _write_backlog(ctx, "warm", warm)
    drain_sinks(spark, ctx, "warm", warm)
    ctx.detail["setup_done"] = time.time()
    ctx.trace_cost_s = 0.0

    res = drain_sinks(spark, ctx, "main", b)
    events = dict(res["events"])
    errors = list(res["errors"].values())
    # Two live-book batches, so state is carried from one into the next.
    book = live_book(spark, ctx, "main", files_per_trigger=(files + 1) // 2)
    events["quotes"] = book["events"]
    if book["error"]:
        errors.append(book["error"])

    layers = {}
    for n, ev in events.items():
        layers.update(summarize_progress(n, ev))
    layers["deltas.unique_over_input"] = len(b.delta_ids) / (b.delivered - b.snapshot_msgs)
    if ctx.tracer.enabled:
        layers["trace.scrape_s"] = ctx.trace_cost_s
    ctx.detail.update({"files": files, "msgs": b.delivered, "landed_msgs": b.landed, "drain_s": res["wall"]})
    if errors:
        ctx.detail["errors"] = errors
    return Outcome(
        latency_ms=res["latency"],
        latency_sources=res["commits"],
        throughput_per_s=b.landed / res["wall"],
        layers=layers,
        attempted=3,  # the two sink streams and the live book
        failed=len(errors),
    )
