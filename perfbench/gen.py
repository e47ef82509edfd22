"""Seeded input generators for the benchmark.

Everything here is pure Python + numpy + pyarrow: the benchmark makes
its inputs before the engine sees them, and the same seed always
yields the same bytes.

Two families:

- order-book message backlogs in the Kalshi wire shape the ingest
  pipeline parses (``orderbook_snapshot`` / ``orderbook_delta``
  envelopes with a ``redis_stream_id``), for the ingest workload;
- the four fixture tables the query mix reads (``events``,
  ``lineitem``, ``documents``, ``embeddings``), in the same schema as
  the testdata fixtures (TESTDATA.md), for the query workload.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np

SERIES = "KXBENCH"
BASE_MS = 1_760_000_000_000
ZIPF_S = 1.1
SNAPSHOT_SHARE = 0.02


def market_weights(n_markets: int, zipf_s: float) -> np.ndarray:
    """Zipf-skewed ticker popularity (rank r gets weight r**-s)."""
    w = np.arange(1, n_markets + 1, dtype=np.float64) ** -zipf_s
    return w / w.sum()


def ticker(m: int) -> str:
    return f"{SERIES}-M{m:04d}"


def _ladder(rng: np.random.Generator, lo_cents: int) -> list[list[float]]:
    """1-8 distinct price levels in cents [lo, lo+40), as [dollars, contracts]."""
    n = int(rng.integers(1, 9))
    prices = np.sort(rng.choice(40, size=n, replace=False) + lo_cents)
    return [[round(int(p) / 100, 4), int(rng.integers(1, 500))] for p in prices]


@dataclass
class Backlog:
    """A generated backlog and the ground truth its sinks must hold.

    ``files`` is the at-least-once buffer: every message once, plus
    re-deliveries. ``clean_files`` is the same files with every
    re-delivery removed, the feed a consumer without its own dedup must
    read."""

    files: list[list[str]]
    clean_files: list[list[str]]
    delivered: int
    replays: int
    snapshot_msgs: int
    snapshot_levels: int
    snapshot_contracts: int
    delta_ids: set[str]
    delta_sum: int

    @property
    def landed(self) -> int:
        """Messages whose rows must land: every delivered snapshot (the
        snapshot sink keeps re-deliveries) and each distinct delta."""
        return self.snapshot_msgs + len(self.delta_ids)


def gen_backlog(
    seed: int,
    *,
    n_msgs: int,
    n_files: int,
    n_markets: int = 400,
    replay_share: float = 0.05,
    swap_share: float = 0.05,
) -> Backlog:
    """A Kalshi-shaped backlog.

    - tickers drawn with Zipf-skewed popularity (exponent ZIPF_S);
    - SNAPSHOT_SHARE of the messages are snapshots with 1-8 levels per
      side, the rest deltas;
    - ``replay_share`` of the delivered messages re-deliver an earlier
      message verbatim (same ``redis_stream_id``), a few hundred
      messages later: the reference's at-least-once buffer;
    - adjacent messages swap with probability ``swap_share``, but only
      inside a file, so disorder never crosses a file boundary.

    Message ``i`` is stamped ``BASE_MS + i`` in both ``ts`` and
    ``ingestion_ts``: stamps are unique, and the whole backlog spans far
    less than the dedup watermark, so no row is late.
    """
    rng = np.random.default_rng(seed)
    n_replay = int(round(n_msgs * replay_share))
    n_orig = n_msgs - n_replay
    markets = rng.choice(n_markets, size=n_orig, p=market_weights(n_markets, ZIPF_S)).tolist()
    is_snap = (rng.random(n_orig) < SNAPSHOT_SHARE).tolist()
    originals = []
    for i, (m, snap) in enumerate(zip(markets, is_snap)):
        ms = BASE_MS + i
        msg = {"type": "orderbook_snapshot" if snap else "orderbook_delta", "sid": 1, "seq": i,
               "market_ticker": ticker(m), "market_id": str(m)}
        if snap:
            msg.update(yes_dollars=_ladder(rng, 20), no_dollars=_ladder(rng, 35))
        else:
            price = int(rng.integers(20, 75))
            msg.update(price=price, price_dollars=round(price / 100, 4), delta=int(rng.integers(-40, 60)),
                       side="yes" if rng.random() < 0.5 else "no", ts=ms)
        msg.update(ingestion_ts=ms, redis_stream_id=f"{ms}-0")
        originals.append(json.dumps(msg, separators=(",", ":")))
    # Each replay re-delivers a random message 1-400 positions after it.
    after: dict[int, list[int]] = {}
    for src, gap in zip(rng.integers(0, n_orig, size=n_replay).tolist(), rng.integers(1, 400, size=n_replay).tolist()):
        after.setdefault(min(n_orig - 1, src + gap), []).append(src)
    stream: list[tuple[int, bool]] = []  # (original index, is a re-delivery)
    for i in range(n_orig):
        stream.append((i, False))
        stream += [(src, True) for src in after.get(i, ())]
    per_file = -(-len(stream) // n_files)
    files, clean = [], []
    for f in range(n_files):
        chunk = stream[f * per_file : (f + 1) * per_file]
        for j in range(len(chunk) - 1):
            if rng.random() < swap_share:
                chunk[j], chunk[j + 1] = chunk[j + 1], chunk[j]
        files.append([originals[i] for i, _ in chunk])
        clean.append([originals[i] for i, replay in chunk if not replay])
    snaps = [(i, r) for i, r in stream if is_snap[i]]
    levels = [lv for i, _ in snaps for side in ("yes_dollars", "no_dollars") for lv in json.loads(originals[i])[side]]
    deltas = {i for i, _ in stream if not is_snap[i]}
    return Backlog(
        files=files,
        clean_files=clean,
        delivered=len(stream),
        replays=n_replay,
        snapshot_msgs=len(snaps),
        snapshot_levels=len(levels),
        snapshot_contracts=sum(lv[1] for lv in levels),
        delta_ids={f"{BASE_MS + i}-0" for i in deltas},
        delta_sum=sum(json.loads(originals[i])["delta"] for i in deltas),
    )


def write_files(root: str, files: list[list[str]]) -> None:
    """Write the files in order, each with a modification time one
    second after the last. Spark's file source takes files oldest first
    and breaks ties in directory-listing order, so files written within
    the same millisecond could be read out of order, carrying disorder
    across a file (and a micro-batch) boundary."""
    os.makedirs(root, exist_ok=True)
    first = int(time.time()) - len(files)
    for i, lines in enumerate(files):
        path = os.path.join(root, f"part-{i:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (first + i, first + i))


# ---------------------------------------------------------------- tables

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
NEAR_DUP_SHARE = 0.05


def _write(table, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def gen_tables(out_dir: str, *, scale: float, seed: int = 42, which: tuple[str, ...] = ()) -> None:
    """Write the fixture tables the query mix reads, testdata-shaped.

    ``scale`` follows the testdata scale factors, row counts included:
    0.1 gives 100k events, 600k lineitem rows, 5k documents and 2k
    embeddings; 0.01 and 0.001 give 500 documents and 500 embeddings,
    as the fixture does.
    ``which`` limits the tables written (empty: all four).
    """
    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    want = set(which or ("events", "lineitem", "documents", "embeddings"))

    if "events" in want:
        n = max(100, int(1_000_000 * scale))
        n_users = max(10, int(15_000 * scale))
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        span = 30 * 86_400 * 1_000_000
        ts = np.sort(start + rng.integers(0, span, size=n))
        events = pa.table({
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, size=n, dtype=np.int64)),
            "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        })
        _write(events, os.path.join(out_dir, "events.parquet"))

    if "lineitem" in want:
        n = max(600, int(6_000_000 * scale))
        n_orders = max(150, int(1_500_000 * scale))
        qty = rng.integers(1, 51, size=n).astype(np.float64)
        start = np.datetime64("1995-01-01", "D").astype(np.int64)
        lineitem = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, size=n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(20, int(200_000 * scale)), size=n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, max(10, int(10_000 * scale)), size=n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, size=n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=n)]),
            "l_shipdate": pa.array(
                ((start + rng.integers(0, 2500, size=n)) * 86_400_000_000).astype("datetime64[us]")
            ),
        })
        _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))

    if "documents" in want:
        # Fixture shape: 10-100 words from a 31-word vocabulary; ~5% of
        # documents are another document with " dup" appended, so two
        # near-duplicates of the same base are exact duplicates.
        n = max(500, int(50_000 * scale))
        words = np.array(_WORDS)
        texts = [" ".join(words[rng.integers(0, len(_WORDS), size=int(rng.integers(10, 101)))]) for _ in range(n)]
        base = list(texts)
        for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE).tolist():
            j = int(rng.integers(0, n - 1))
            texts[i] = base[j + (j >= i)] + " dup"
        documents = pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(5, size=n, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        })
        _write(documents, os.path.join(out_dir, "documents.parquet"))

    if "embeddings" in want:
        # Isotropic unit vectors, as in the fixture; labels are uniform
        # and independent of the vectors.
        n = max(500, int(20_000 * scale))
        vecs = rng.normal(size=(n, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        labels = rng.integers(0, 10, size=n).astype(np.int32)
        embeddings = pa.table({
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        })
        _write(embeddings, os.path.join(out_dir, "embeddings.parquet"))
