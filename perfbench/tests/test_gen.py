"""Generator determinism and the shape of the generated inputs."""

import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _msgs(files):
    return [json.loads(line) for f in files for line in f]


def test_backlog_is_deterministic_per_seed():
    a = gen.gen_backlog(3, n_msgs=3000, n_files=4)
    b = gen.gen_backlog(3, n_msgs=3000, n_files=4)
    c = gen.gen_backlog(4, n_msgs=3000, n_files=4)
    assert (a.files, a.clean_files) == (b.files, b.clean_files)
    assert a.files != c.files


def test_replay_share_and_ground_truth():
    b = gen.gen_backlog(5, n_msgs=10_000, n_files=5, replay_share=0.05)
    msgs = _msgs(b.files)
    ids = [m["redis_stream_id"] for m in msgs]
    assert len(msgs) == b.delivered == 10_000
    # exactly 5% of deliveries re-deliver an id already delivered, verbatim
    assert len(ids) - len(set(ids)) == b.replays == 500
    first = {}
    for m in msgs:
        assert first.setdefault(m["redis_stream_id"], m) == m
    # the clean feed is every message once, in the same files
    clean = _msgs(b.clean_files)
    assert sorted(m["redis_stream_id"] for m in clean) == sorted(set(ids))
    deltas = {m["redis_stream_id"]: m for m in msgs if m["type"] == "orderbook_delta"}
    assert set(deltas) == b.delta_ids
    assert sum(m["delta"] for m in deltas.values()) == b.delta_sum
    snaps = [m for m in msgs if m["type"] == "orderbook_snapshot"]
    assert b.snapshot_msgs == len(snaps)
    assert b.snapshot_levels == sum(len(m["yes_dollars"]) + len(m["no_dollars"]) for m in snaps)
    assert b.landed == len(snaps) + len(deltas)
    assert 0.01 < len(snaps) / len(msgs) < 0.03
    assert all(1 <= len(m[s]) <= 8 for m in snaps for s in ("yes_dollars", "no_dollars"))


def test_disorder_stays_inside_a_file():
    b = gen.gen_backlog(6, n_msgs=4000, n_files=4, replay_share=0.0, swap_share=0.3)
    seqs = [[json.loads(line)["seq"] for line in f] for f in b.files]
    assert any(s != sorted(s) for s in seqs)  # some disorder exists
    for earlier, later in zip(seqs, seqs[1:]):
        assert max(earlier) < min(later)  # but never across a file boundary


def test_files_are_written_oldest_first(tmp_path):
    b = gen.gen_backlog(9, n_msgs=1000, n_files=5)
    gen.write_files(str(tmp_path), b.files)
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.stat(tmp_path / n).st_mtime for n in names]
    assert mtimes == sorted(set(mtimes))  # strictly increasing in file order


def test_stamps_are_unique_and_shared_by_both_clocks():
    msgs = _msgs(gen.gen_backlog(8, n_msgs=2000, n_files=2, replay_share=0.0).files)
    assert len({m["ingestion_ts"] for m in msgs}) == len(msgs)
    assert all(m["ts"] == m["ingestion_ts"] for m in msgs if m["type"] == "orderbook_delta")


def test_ticker_popularity_is_skewed():
    counts: dict[str, int] = {}
    for m in _msgs(gen.gen_backlog(7, n_msgs=20_000, n_files=2, n_markets=100).files):
        counts[m["market_ticker"]] = counts.get(m["market_ticker"], 0) + 1
    assert counts[gen.ticker(0)] > 10 * counts.get(gen.ticker(99), 1)


def test_tables_are_deterministic(tmp_path):
    gen.gen_tables(str(tmp_path / "a"), scale=0.001, seed=42)
    gen.gen_tables(str(tmp_path / "b"), scale=0.001, seed=42)
    for t in ("events", "lineitem", "documents", "embeddings"):
        ta = pq.read_table(str(tmp_path / "a" / f"{t}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{t}.parquet"))
        assert ta.equals(tb), t
    assert pq.read_table(str(tmp_path / "a" / "events.parquet")).num_rows == 1000


def test_corpus_tables_follow_the_fixture_shape(tmp_path):
    # Row counts per testdata scale factor, as the fixture has them.
    for scale, docs, vecs in ((0.001, 500, 500), (0.01, 500, 500), (0.1, 5000, 2000)):
        out = tmp_path / str(scale)
        gen.gen_tables(str(out), scale=scale, which=("documents", "embeddings"))
        assert pq.read_table(str(out / "documents.parquet")).num_rows == docs
        assert pq.read_table(str(out / "embeddings.parquet")).num_rows == vecs
    d = pq.read_table(str(tmp_path / "0.1" / "documents.parquet")).to_pydict()
    texts = set(d["text"])
    near = [t for t in d["text"] if t.endswith(" dup")]
    assert 0.04 < len(near) / 5000 < 0.06
    # the base survives unless it was itself replaced by a near-duplicate
    assert sum(t[: -len(" dup")] in texts for t in near) > 0.9 * len(near)
    assert all(10 <= len(t.split()) <= 101 for t in d["text"])
    e = pq.read_table(str(tmp_path / "0.1" / "embeddings.parquet")).to_pydict()
    v = np.array(e["embedding"])
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    # isotropic: no direction is preferred, and labels carry no cluster
    assert np.linalg.norm(v.mean(0)) < 4 / np.sqrt(len(v))
    labels = np.array(e["label"])
    assert max(np.linalg.norm(v[labels == k].mean(0)) for k in range(10)) < 4 / np.sqrt(len(v) / 10)
