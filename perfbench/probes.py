"""Probes that observe the program from outside, through its public
surface: a StreamingQueryListener, a timing DocumentSink, Catalyst's
phase tracker on a returned frame, and session-hygiene snapshots."""

from __future__ import annotations

import json
import threading
import time
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from aws_dla_kinesis_delivery_stream_example_spark.streaming.doc_sink import DocumentSink


class ProgressRecorder(StreamingQueryListener):
    """Keeps every StreamingQueryProgress as a dict, as it happens."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def wait_terminated(self, query_ids: set[str], timeout_s: float = 10.0) -> bool:
        """Listener events arrive asynchronously; wait until every query
        in ``query_ids`` has reported its end."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if query_ids <= self.terminated:
                    return True
            time.sleep(0.02)
        return False

    def started_ids(self) -> set[str]:
        with self._lock:
            return set(self.started)

    def for_queries(self, query_ids: set[str]) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["id"] in query_ids]

    def since(self, epoch_ms: float) -> list[dict]:
        """Progress of the micro-batches triggered at or after ``epoch_ms``."""
        with self._lock:
            return [
                p
                for p in self.progress
                if datetime.fromisoformat(p["timestamp"]).timestamp() * 1000.0 >= epoch_ms
            ]


class TimedDocumentSink(DocumentSink):
    """Wraps the pipeline's document sink and times each bulk_index."""

    def __init__(self, inner: DocumentSink) -> None:
        self.inner = inner
        self.calls: list[tuple[int, float]] = []

    def bulk_index(self, docs: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        try:
            self.inner.bulk_index(docs, batch_id)
        finally:
            self.calls.append((batch_id, (time.perf_counter() - t0) * 1000.0))


_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df: DataFrame) -> dict[str, float]:
    """Analysis, optimization and planning time Catalyst recorded for
    ``df`` (read after it has been executed)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in _PHASES:
        opt = phases.get(ph)
        out[f"catalyst.{ph}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def hygiene_snapshot(spark: SparkSession) -> dict:
    """What a query may leave behind in the session."""
    jcatalog = spark._jsparkSession.sessionState().catalog()
    return {
        "temp_views": jcatalog.listLocalTempViews("*").size(),
        "active_streams": len(spark.streams.active),
        "cached": len(spark.sparkContext._jsc.sc().getRDDStorageInfo()),
        "confs": dict(spark.conf.getAll),
    }


def hygiene_delta(before: dict, after: dict) -> dict[str, float]:
    changed = {
        k
        for k in before["confs"].keys() | after["confs"].keys()
        if before["confs"].get(k) != after["confs"].get(k)
    }
    return {
        f"hygiene.{k}": float(after[k] - before[k])
        for k in ("temp_views", "active_streams", "cached")
    } | {"hygiene.changed_confs": float(len(changed))}
