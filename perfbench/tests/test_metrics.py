"""Every emitted metric name and unit matches BENCHMARK.json."""

import pytest

from perfbench.common import Outcome, summarize_progress
from perfbench.queries import QUERY_LAYERS
from perfbench.run import end_to_end, layer_values, load_spec, result_line

SPEC = load_spec()
DECLARED = {m["name"] for m in SPEC["per_layer"]}


def test_declaration_follows_the_contract():
    assert [w["name"] for w in SPEC["workloads"]] == ["ingest_drain", "queries"]
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in SPEC["end_to_end"]) <= 0.25


def test_result_line_emits_exactly_the_declared_metrics():
    out = Outcome(latency_ms=[10.0, 20.0, 30.0], throughput_per_s=4.0, layers={}, attempted=3, failed=0)
    line = result_line(out, end_to_end(out, setup_s=1.5), SPEC["end_to_end"])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert line["metrics"]["latency_ms_p50"]["value"] == pytest.approx(20.0)
    traced = result_line(out, layer_values(SPEC, {}), SPEC["per_layer"])
    assert {k: v["unit"] for k, v in traced["metrics"].items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def test_every_layer_a_workload_measures_is_declared():
    event = {
        "batchId": 0, "numInputRows": 10, "timestamp": "2026-01-01T00:00:00.000Z",
        "durationMs": {"triggerExecution": 9, "addBatch": 5},
        "stateOperators": [{"numStateStoreInstances": 4, "commitTimeMs": 1, "numRowsTotal": 7, "memoryUsedBytes": 99}],
    }
    stateless = {k: v for k, v in event.items() if k != "stateOperators"}
    measured = set(QUERY_LAYERS) | {"deltas.unique_over_input", "trace.scrape_s"}
    measured |= set(summarize_progress("snapshots", [stateless]))
    for q in ("deltas", "quotes"):  # the two stateful queries
        measured |= set(summarize_progress(q, [event]))
    assert measured <= DECLARED
    with pytest.raises(ValueError):
        layer_values(SPEC, {"no.such_metric": 1.0})


def test_a_failed_operation_makes_the_run_incorrect():
    out = Outcome(latency_ms=[10.0], throughput_per_s=1.0, layers={}, attempted=2, failed=1)
    assert result_line(out, end_to_end(out, 1.0), SPEC["end_to_end"])["correct"] is False


def test_sample_counts_follow_seconds_only():
    from perfbench.drain import n_files
    from perfbench.queries import n_passes

    assert [n_files(s) for s in (5, 15, 20, 30)] == [3, 5, 7, 11]
    assert all(n_files(s) % 2 == 1 for s in range(1, 61))  # the median message sits inside a batch
    assert [n_passes(s) for s in (5, 20, 30)] == [1, 2, 3]
