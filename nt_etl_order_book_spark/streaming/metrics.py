"""Streaming observability — the reference's failure model, inverted.

The reference prints-and-drops errors (producer.py:19-20) and crashes
on sequence gaps (kalshi_ws_client.py:141-144). Here, operational
signals are metrics: a StreamingQueryListener collects per-batch rows,
watermark progression, and state-store size, so late-data drops and
backlog growth are observable instead of fatal (SURVEY §2.9 late-data
row).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetric:
    query_name: str
    batch_id: int
    num_input_rows: int
    watermark: str | None
    state_rows: int | None
    state_bytes: int | None = None  # stateOperators memoryUsedBytes sum
    # State-store instances per operator (max over operators): each one
    # is opened and committed every micro-batch, a fixed per-batch cost.
    state_stores: int | None = None


@dataclass
class StateAlarm:
    """One bound violation: which query crossed which limit at which
    batch. Collected, not raised — operational policy (page, scale,
    widen the horizon) belongs to the deployment, and killing the
    query from inside a listener callback would turn an observability
    hook into an availability hazard."""

    query_name: str
    batch_id: int
    state_rows: int
    state_bytes: int
    bound_rows: int | None
    bound_bytes: int | None


@dataclass
class MetricsCollector:
    """In-memory sink for listener events (swap for StatsD/Prometheus in
    a deployment; the listener contract is the point)."""

    batches: list[BatchMetric] = field(default_factory=list)
    alarms: list[StateAlarm] = field(default_factory=list)

    def total_rows(self, query_name: str | None = None) -> int:
        return sum(
            b.num_input_rows
            for b in self.batches
            if query_name is None or b.query_name == query_name
        )

    def peak_state(self, query_name: str | None = None) -> tuple[int, int]:
        """(max state rows, max state bytes) seen across progress
        events — the number a deployment sizes its horizon against.
        The r13 scale probe's rule (PERF.md / DEPLOY.md §4): steady
        state is rate × horizon for watermarked dedup, exactly the key
        population for bounded sketches — this metric is how you VERIFY
        that in operation instead of asserting it. Queries with no
        stateful operator contribute nothing."""
        rows = [
            b.state_rows
            for b in self.batches
            if b.state_rows is not None and (query_name is None or b.query_name == query_name)
        ]
        byts = [
            b.state_bytes
            for b in self.batches
            if b.state_bytes is not None and (query_name is None or b.query_name == query_name)
        ]
        return (max(rows) if rows else 0, max(byts) if byts else 0)


class BookPipelineListener(StreamingQueryListener):
    """Collects micro-batch progress for every streaming query on the
    session: input rows, event-time watermark, and stateful-operator row
    counts (the number of keys currently held — ladder size for the book
    operator, seen-keys for dedup).

    ``state_bound_rows`` / ``state_bound_bytes`` (optional) arm a
    state-pressure alarm: any progress event whose summed
    ``stateOperators`` rows/bytes exceed a bound appends a StateAlarm
    to the collector (and warns once per query on stderr via the
    ``warnings`` module). At 100 TB a mis-sized watermark horizon is
    the #1 way a stateful pipeline dies — state grows with rate ×
    horizon (measured across three decades in the r13 scale probe,
    tools/stream_scale_probe.py), so size the bound as
    expected_rate × horizon × safety_factor and treat any alarm as
    "the horizon or the rate estimate is wrong", per DEPLOY.md §4."""

    def __init__(
        self,
        collector: MetricsCollector | None = None,
        state_bound_rows: int | None = None,
        state_bound_bytes: int | None = None,
    ) -> None:
        self.collector = collector or MetricsCollector()
        self.state_bound_rows = state_bound_rows
        self.state_bound_bytes = state_bound_bytes
        self._warned: set[str] = set()

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = json.loads(event.progress.json)
        state = p.get("stateOperators") or []
        state_rows = sum(s.get("numRowsTotal", 0) for s in state) if state else None
        state_bytes = sum(s.get("memoryUsedBytes", 0) for s in state) if state else None
        state_stores = (
            max(
                s.get("numStateStoreInstances") or s.get("numShufflePartitions", 0)
                for s in state
            )
            if state
            else None
        )
        name = p.get("name") or p.get("id", "?")
        batch_id = p.get("batchId", -1)
        self.collector.batches.append(
            BatchMetric(
                query_name=name,
                batch_id=batch_id,
                num_input_rows=int(p.get("numInputRows", 0)),
                watermark=(p.get("eventTime") or {}).get("watermark"),
                state_rows=state_rows,
                state_bytes=state_bytes,
                state_stores=state_stores,
            )
        )
        over_rows = (
            self.state_bound_rows is not None
            and state_rows is not None
            and state_rows > self.state_bound_rows
        )
        over_bytes = (
            self.state_bound_bytes is not None
            and state_bytes is not None
            and state_bytes > self.state_bound_bytes
        )
        if over_rows or over_bytes:
            self.collector.alarms.append(
                StateAlarm(
                    query_name=name,
                    batch_id=batch_id,
                    state_rows=state_rows or 0,
                    state_bytes=state_bytes or 0,
                    bound_rows=self.state_bound_rows,
                    bound_bytes=self.state_bound_bytes,
                )
            )
            if name not in self._warned:
                self._warned.add(name)
                import warnings

                warnings.warn(
                    f"streaming state bound exceeded for {name!r}: "
                    f"{state_rows} rows / {state_bytes} bytes vs bound "
                    f"{self.state_bound_rows} rows / {self.state_bound_bytes} "
                    "bytes — the watermark horizon or the rate estimate is "
                    "mis-sized (state = rate x horizon; DEPLOY.md §4)",
                    stacklevel=2,
                )

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass
