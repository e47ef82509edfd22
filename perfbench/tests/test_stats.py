"""Percentiles, the sample-count rule and the commit-log freshness join."""

import json
import math
import os
import statistics

import pytest

from perfbench import stats


def test_percentile_is_harrell_davis():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([7.0], 90) == 7.0
    # n = 9, q = 0.9: weights come from Beta(9, 1), whose CDF is x**9
    nine = [float(i) for i in range(1, 10)]
    exact = sum(x * (((i + 1) / 9) ** 9 - (i / 9) ** 9) for i, x in enumerate(nine))
    assert stats.percentile(nine, 90) == pytest.approx(exact, rel=1e-9)
    # n = 5, q = 0.5: Beta(3, 3), CDF sum_{j>=3} C(5, j) x^j (1 - x)^(5 - j)
    cdf = lambda x: sum(math.comb(5, j) * x**j * (1 - x) ** (5 - j) for j in range(3, 6))  # noqa: E731
    skewed = [1.0, 2.0, 3.0, 4.0, 50.0]
    exact = sum(x * (cdf((i + 1) / 5) - cdf(i / 5)) for i, x in enumerate(skewed))
    assert stats.percentile(skewed, 50) == pytest.approx(exact, rel=1e-9)
    assert stats.percentile(list(range(1, 101)), 50) == pytest.approx(statistics.median(range(1, 101)))
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.resolved(100, 90)
    assert not stats.resolved(99, 90)
    assert stats.resolved(20, 50) and not stats.resolved(19, 50)
    s = stats.summary([float(i) for i in range(12)])
    assert s["n"] == 12 and s["resolved"] == []


def test_samples_sharing_a_source_resolve_by_source_count():
    # 3,000 landing times from 30 commits: 300 samples but only 3
    # commits lie beyond p90, so it is unresolved; p50 has 15 beyond it.
    xs = [float(i // 100) for i in range(3000)]
    assert stats.summary(xs)["resolved"] == [50, 90]
    s = stats.summary(xs, sources=30)
    assert s["sources"] == 30 and s["resolved"] == [50]
    assert stats.summary(xs, sources=15)["resolved"] == []


def _entry(meta, name, files, mtime_ms):
    path = os.path.join(meta, name)
    with open(path, "w") as fh:
        fh.write("v1\n")
        for f in files:
            fh.write(json.dumps({"path": f"file:///sink/{f}", "size": 1}) + "\n")
    os.utime(path, ns=(int(mtime_ms * 1e6), int(mtime_ms * 1e6)))


def test_freshness_from_a_synthetic_commit_log(tmp_path):
    meta = tmp_path / "_spark_metadata"
    meta.mkdir()
    _entry(str(meta), "0", ["a.parquet"], 1_000_500.0)
    _entry(str(meta), "1", ["b.parquet", "c.parquet"], 1_001_700.0)
    # a compacted entry repeats earlier batches' files: they keep their batch
    _entry(str(meta), "2.compact", ["a.parquet", "b.parquet", "c.parquet", "d.parquet"], 1_003_000.0)
    files, committed = stats.sink_log(str(tmp_path))
    assert files == {"a.parquet": 0, "b.parquet": 1, "c.parquet": 1, "d.parquet": 2}
    assert committed == {0: 1_000_500.0, 1: 1_001_700.0, 2: 1_003_000.0}
    created = {"m1": 1_000_000.0, "m2": 1_001_000.0, "m3": 1_002_900.0}
    landed = {"m1": files["a.parquet"], "m2": files["c.parquet"], "m3": files["d.parquet"]}
    assert stats.freshness_ms(created, landed, committed) == [500.0, 700.0, 100.0]
    with pytest.raises(KeyError):
        stats.freshness_ms({"lost": 0.0}, landed, committed)
