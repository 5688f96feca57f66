"""Observability: per-batch intake metrics + streaming-progress capture.

The reference carries an ``observability`` config block (metric tags →
Datadog sidecar, stream-context-serialized-example.json; CRD
``spec.observability``). The Spark-native equivalent is (a) a small
per-batch metrics recorder the runner feeds (rows in, rows merged, wall
seconds, rows/s — the numbers the reference's advisedRate throughput
contract is stated in),
persisted as JSONL so any scraper can tail it, and (b) a
``StreamingQueryListener`` that captures Structured Streaming progress
events (batch duration, input rows) for the readStream path.

No driver-side aggregation of data rows happens here — metrics are O(1)
per batch regardless of batch size, and the runner observes its counts
inside the commit job, so recording starts no Spark job.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class BatchMetric:
    batch_folder: str
    rows: int  # change rows in the batch
    merged: int  # rows that took effect past the version guard
    seconds: float
    rows_per_sec: float
    wall_ts: float
    tags: dict[str, str] = field(default_factory=dict)


class StatsdPublisher:
    """DogStatsD-format metric emitter over UDP or a Unix datagram socket —
    the analog of the reference's ``DeclaredMetrics`` +
    ``DataDog.UdsPublisher`` stack (main.scala:111-114, wired from
    ``zio.metrics.connectors.statsd`` DatagramSocketConfig). Address forms:

        ``udp:host:port``  — StatsD over UDP (the classic agent socket)
        ``uds:/path.sock`` — DogStatsD over a Unix datagram socket (the
                             Datadog sidecar mount the reference targets)

    Datagram shape: ``name:value|type|#tag:val,tag2:val2``. Emission is
    fire-and-forget (datagrams, no ack) and never throws into the stream —
    a dead agent must not fail a merge."""

    def __init__(self, address: str, tags: dict[str, str] | None = None):
        import socket

        self.tags = dict(tags or {})
        if address.startswith("udp:"):
            _, host, port = address.split(":", 2)
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            self._dest: tuple[str, int] | str = (host, int(port))
        elif address.startswith("uds:"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_DGRAM)
            self._dest = address[4:]
        else:
            raise ValueError(f"statsd address {address!r} not udp:host:port or uds:/path")

    def _format(self, name: str, value: float, mtype: str) -> bytes:
        v = int(value) if float(value).is_integer() else value
        line = f"{name}:{v}|{mtype}"
        if self.tags:
            line += "|#" + ",".join(f"{k}:{val}" for k, val in sorted(self.tags.items()))
        return line.encode()

    def _send(self, payload: bytes) -> None:
        try:
            self._sock.sendto(payload, self._dest)
        except OSError:
            pass  # fire-and-forget: metrics never take down the stream

    def count(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "c"))

    def timing_ms(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "ms"))

    def gauge(self, name: str, value: float) -> None:
        self._send(self._format(name, value, "g"))

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


# Declared metric names (DeclaredMetrics analog): what a batch emits.
METRIC_ROWS_INCOMING = "arcane.stream.rows.incoming"
METRIC_ROWS_MERGED = "arcane.stream.rows.merged"
METRIC_BATCH_DURATION = "arcane.stream.batch.duration"


class MetricsRecorder:
    """Collects per-batch intake metrics; optionally appends JSONL to
    ``path`` (one object per line, crash-safe append) and/or publishes
    StatsD datagrams per batch (``statsd_address``)."""

    def __init__(
        self,
        path: str | None = None,
        tags: dict[str, str] | None = None,
        statsd_address: str | None = None,
    ):
        self.path = path
        self.tags = dict(tags or {})
        self.metrics: list[BatchMetric] = []
        self.statsd = StatsdPublisher(statsd_address, self.tags) if statsd_address else None

    def record(self, batch_folder: str, rows: int, merged: int, seconds: float) -> BatchMetric:
        m = BatchMetric(
            batch_folder=batch_folder,
            rows=rows,
            merged=merged,
            seconds=round(seconds, 6),
            rows_per_sec=round(rows / seconds, 3) if seconds > 0 else 0.0,
            wall_ts=time.time(),
            tags=self.tags,
        )
        self.metrics.append(m)
        if self.path:
            os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
            with open(self.path, "a") as fh:
                fh.write(json.dumps(asdict(m)) + "\n")
        if self.statsd is not None:
            # one applied batch → rows-in count, rows-merged count, duration
            self.statsd.count(METRIC_ROWS_INCOMING, rows)
            self.statsd.count(METRIC_ROWS_MERGED, merged)
            self.statsd.timing_ms(METRIC_BATCH_DURATION, seconds * 1000.0)
        return m

    @property
    def total_rows(self) -> int:
        return sum(m.rows for m in self.metrics)


def jsonl_progress_listener(path: str):
    """StreamingQueryListener that appends every progress event (micro-batch
    id, input rows, duration) to a JSONL file. Attach with
    ``spark.streams.addListener(jsonl_progress_listener(path))``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            self._write({"event": "started", "id": str(event.id)})

        def onQueryProgress(self, event):
            p = event.progress
            self._write(
                {
                    "event": "progress",
                    "id": str(p.id),
                    "batchId": p.batchId,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs or {}),
                }
            )

        def onQueryTerminated(self, event):
            self._write({"event": "terminated", "id": str(event.id)})

        def onQueryIdle(self, event):
            pass

        def _write(self, obj: dict) -> None:
            os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
            with open(path, "a") as fh:
                fh.write(json.dumps(obj) + "\n")

    return _Listener()
