"""Summary statistics and the commit-log freshness join.

No Spark here: every function takes plain Python values, so the
benchmark's own arithmetic is unit-tested without an engine.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterable, Mapping, Sequence

import numpy as np

# A percentile is "resolved" only when at least this many samples lie
# beyond it; below that the tail estimate is one or two samples wide.
MIN_TAIL_SAMPLES = 10


def _beta_cdf(x: np.ndarray, a: float, b: float, grid: int = 200_000) -> np.ndarray:
    """CDF of Beta(a, b) at ``x``, by midpoint integration of its
    density on a uniform grid (fine enough for a, b up to ~10^5)."""
    t = (np.arange(grid) + 0.5) / grid
    log_pdf = (a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    return np.interp(x, np.linspace(0.0, 1.0, grid + 1), cdf / cdf[-1])


def percentile(values: Iterable[float], q: float) -> float:
    """The q-th percentile (0-100) by the Harrell-Davis estimator: a
    weighted mean of all order statistics, with Beta((n+1)q, (n+1)(1-q))
    weights. On a few samples it varies less from run to run than one or
    two order statistics do; q = 0 and 100 give the minimum and maximum.
    Raises on no samples."""
    xs = np.sort(np.asarray(list(values), dtype=np.float64))
    if not len(xs):
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside [0, 100]")
    if q == 0 or q == 100 or len(xs) == 1:
        return float(xs[0] if q == 0 else xs[-1] if q == 100 else xs[0])
    n, p = len(xs), q / 100.0
    w = np.diff(_beta_cdf(np.arange(n + 1) / n, (n + 1) * p, (n + 1) * (1 - p)))
    return float(w @ xs)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the q-th percentile: the top
    (100 - q) percent, rounded down."""
    return math.floor(n * (100.0 - q) / 100.0 + 1e-9)


def resolved(n: int, q: float) -> bool:
    """Whether the q-th percentile of ``n`` samples has at least
    MIN_TAIL_SAMPLES samples beyond it."""
    return samples_beyond(n, q) >= MIN_TAIL_SAMPLES


def summary(values: Sequence[float], qs: Sequence[float] = (50, 90), sources: int | None = None) -> dict:
    """Percentiles plus the sample count and which of them are resolved.
    When the samples come from fewer independent ``sources`` (messages
    landed by one commit share its time), resolution counts sources."""
    n = len(values)
    independent = n if sources is None else min(n, sources)
    return {
        "n": n,
        **({} if sources is None else {"sources": sources}),
        **{f"p{int(q)}": percentile(values, q) for q in qs},
        "resolved": [int(q) for q in qs if resolved(independent, q)],
    }


# ------------------------------------------------------------ freshness


def sink_log(sink: str) -> tuple[dict[str, int], dict[int, float]]:
    """Read a parquet file sink's own commit log (``_spark_metadata``)
    from outside the engine.

    Returns (data file basename -> batch id, batch id -> commit wall
    time in epoch ms). A batch's rows become visible to readers when its
    log entry is written, so the entry's mtime is the commit time. The
    log holds one JSON line per file after a version header; a
    compacted entry (``N.compact``) also lists every earlier batch's
    files, so entries are read in batch order and a file keeps the first
    batch that listed it."""
    import json

    meta = os.path.join(sink, "_spark_metadata")
    entries = []
    for name in os.listdir(meta):
        stem = name.split(".")[0]
        if stem.isdigit():
            entries.append((int(stem), name))
    files: dict[str, int] = {}
    committed: dict[int, float] = {}
    for batch, name in sorted(entries):
        path = os.path.join(meta, name)
        committed[batch] = os.stat(path).st_mtime_ns / 1e6
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    files.setdefault(os.path.basename(json.loads(line)["path"]), batch)
    return files, committed


def freshness_ms(
    created_ms: Mapping[str, float],
    landed_in: Mapping[str, int],
    committed_ms: Mapping[int, float],
) -> list[float]:
    """Per message: commit time of the batch holding its row minus its
    creation stamp. ``created_ms`` maps message id -> creation (or due)
    time, ``landed_in`` message id -> batch id, ``committed_ms`` batch id
    -> commit wall time. A message that never landed raises KeyError:
    the caller has already checked the sink holds every message."""
    return [committed_ms[landed_in[mid]] - created_ms[mid] for mid in created_ms]
