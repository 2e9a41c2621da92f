"""The benchmark's workloads.  Each drains a closed backlog that exists
before its timed window, in one driver process, with no load threads.

A workload object goes through ``prepare`` (repeatable set-up, timed for
``setup_s``), ``warm`` (untimed warm-up passes), ``measure`` (the timed
window), ``check`` (correctness, outside the timed window) and, for a
traced run, ``per_layer``.  Timed units are flushes for delivery and
query calls for the catalog.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from aws_dla_kinesis_delivery_stream_example_spark.operators.staging import release_staging
from aws_dla_kinesis_delivery_stream_example_spark.plans import all_specs
from aws_dla_kinesis_delivery_stream_example_spark.sources.tables import TABLES, load_table
from aws_dla_kinesis_delivery_stream_example_spark.streaming.delivery import (
    PREFIX_BACKUP,
    PREFIX_BACKUP_FAILED,
    PREFIX_FAILED,
    PREFIX_SUCCESS,
    DeliveryPipeline,
)
from aws_dla_kinesis_delivery_stream_example_spark.streaming.doc_sink import ParquetDocumentSink

import datagen
import measure
from probes import (
    ProgressRecorder,
    TimedDocumentSink,
    catalyst_phases_ms,
    hygiene_delta,
    hygiene_snapshot,
)

PER_LAYER = (
    "plans.build_ms",
    "plans.collect_ms",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    *measure.SCHEDULER_METRICS,
    "spark.jobs_per_flush",
    "stream.queries",
    "stream.batches",
    "stream.trigger_ms",
    "stream.addBatch_ms",
    "stream.queryPlanning_ms",
    "stream.walCommit_ms",
    "stream.commitOffsets_ms",
    "stream.latestOffset_ms",
    "stream.fixed_ms",
    "state.rows_total",
    "state.memory_bytes",
    "state.commit_ms",
    "state.instances",
    "streaming_q.leaked_views",
    "hygiene.temp_views",
    "hygiene.active_streams",
    "hygiene.cached",
    "hygiene.changed_confs",
    "delivery.flushes",
    "delivery.records_per_flush",
    "delivery.other_ms",
    "delivery.backup_retries",
    "delivery.doc_sink_retries",
    "delivery.sink_files.backup",
    "delivery.sink_files.success",
    "delivery.sink_files.documents",
    "doc_sink.bulk_index_ms",
    "doc_sink.calls",
    "session.start_ms",
    "sources.warm_ms",
    "sources.generate_ms",
    "trace.invariant_violations",
)


@dataclass
class Check:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.problems.append(why)


@dataclass
class Passes:
    """Per-pass readings of a timed window: the CPU of the program's
    code (``measure.work_cpu_s``) and the CPU of the JVM's JIT."""

    cpu_s: list[float] = field(default_factory=list)
    jit_s: list[float] = field(default_factory=list)
    min_passes = 3  # a median of two passes is their mean

    def run(self, jvm: int | None, passes: int, one_pass) -> None:
        """Call ``one_pass(i)`` for each of ``passes`` passes, and at
        least ``min_passes``."""
        for i in range(max(passes, self.min_passes)):
            cpu0, jit0 = measure.work_cpu_s(os.getpid(), jvm), measure.jit_cpu_s(jvm)
            one_pass(i)
            self.cpu_s.append(measure.work_cpu_s(os.getpid(), jvm) - cpu0)
            self.jit_s.append(measure.jit_cpu_s(jvm) - jit0)


def _data_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if not f.startswith(("_", "."))
    ]


def _same_record(line: str, records: dict) -> bool:
    rec = json.loads(line)
    return records.get(rec.get("id")) == rec


class Delivery:
    """``delivery-trickle``: a backlog of 2,000-record JSON-lines files,
    one file per flush (``max_files_per_trigger=1``), identity transform,
    document sink on.  Each pass drains the whole backlog through a
    fresh ``DeliveryPipeline`` (own destination and checkpoint)."""

    records_per_file = 2_000
    files_per_drain = 6
    seconds_per_drain = 2.5  # a warm drain of the backlog on 4 quiet cores
    warm_passes = 2

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int,
                 recorder: ProgressRecorder, jvm: int | None = None) -> None:
        self.spark, self.work, self.seed, self.recorder = spark, work, seed, recorder
        self.n_passes = round(seconds / self.seconds_per_drain)
        self.jvm = jvm
        self.src = os.path.join(work, "backlog")
        self.pipes: list[tuple[DeliveryPipeline, TimedDocumentSink]] = []
        self.walls_s: list[float] = []
        self.passes = Passes()
        self.windows: list[tuple[float, float]] = []
        self.records: dict = {}
        self.produced = 0

    def prepare(self) -> float:
        shutil.rmtree(self.src, ignore_errors=True)
        t0 = time.perf_counter()
        self.records = datagen.write_backlog(
            self.src, self.seed, self.files_per_drain, self.records_per_file
        )
        self.produced = len(self.records)
        return time.perf_counter() - t0

    def _pipeline(self, src: str, dest: str) -> tuple[DeliveryPipeline, TimedDocumentSink]:
        sink = TimedDocumentSink(ParquetDocumentSink(os.path.join(dest, "documents")))
        pipe = DeliveryPipeline(
            self.spark, src, dest, max_files_per_trigger=1, document_client=sink
        )
        return pipe, sink

    def warm(self) -> None:
        """Drain the backlog ``warm_passes`` times, so the timed drains
        run compiled code rather than pay for the JVM's warm-up."""
        for i in range(self.warm_passes):
            pipe, _ = self._pipeline(self.src, os.path.join(self.work, f"warm-{i}"))
            pipe.run()

    def _drain(self, i: int) -> None:
        pipe, sink = self._pipeline(self.src, os.path.join(self.work, f"dest-{i}"))
        e0, t0 = time.time() * 1000.0, time.perf_counter()
        pipe.run()
        self.walls_s.append(time.perf_counter() - t0)
        self.windows.append((e0, time.time() * 1000.0))
        self.pipes.append((pipe, sink))

    def measure(self) -> None:
        self.passes.run(self.jvm, self.n_passes, self._drain)
        self.recorder.wait_terminated(self.query_ids())

    def detail(self) -> list:
        return [{"drain": i, "wall_s": s} for i, s in enumerate(self.walls_s)]

    def query_ids(self) -> set[str]:
        return {str(p.last_query.id) for p, _ in self.pipes}

    def flushes(self) -> list[dict]:
        return [p for p in self.recorder.for_queries(self.query_ids()) if p["numInputRows"] > 0]

    def end_to_end(self) -> dict:
        units = [p["durationMs"]["triggerExecution"] for p in self.flushes()]
        return {
            "sweep_s": measure.median(self.walls_s),
            "units_ms": units,
            "rec_per_s": self.produced / measure.median(self.walls_s),
        }

    def check(self) -> Check:
        c = Check(attempted=self.produced * len(self.pipes))
        for i, (pipe, _) in enumerate(self.pipes):
            r = pipe.result
            if not r.reconciled() or r.n_input != self.produced or r.n_ok != self.produced:
                c.problems.append(f"drain {i}: counters {r}")
            if r.backup_retries or r.doc_sink_retries or r.n_backup_failed:
                c.problems.append(f"drain {i}: retries {r}")
            for prefix in (PREFIX_BACKUP_FAILED, PREFIX_FAILED):
                if pipe.count_sink_objects(prefix):
                    c.problems.append(f"drain {i}: {prefix} not empty")
        flushes = len(self.flushes())
        if flushes != len(self.pipes) * self.files_per_drain:
            c.problems.append(f"listener saw {flushes} flushes")
        missing = c.attempted - self._exactly_once_records()
        if missing:
            c.fail(missing, f"{missing} records not exactly once in both sinks")
        if c.problems and not c.failed:
            c.failed = 1
        return c

    def _exactly_once_records(self) -> int:
        """Records of the backlog present exactly once, unchanged, in both
        the success sink and the document sink of every drain.  Reads
        the sink files directly, so the check starts no Spark job."""
        good = 0
        for pipe, _ in self.pipes:
            success = Counter()
            for path in _data_files(pipe.path(PREFIX_SUCCESS)):
                with open(path, encoding="utf-8") as f:
                    success.update(line for line in f.read().splitlines() if line)
            docs = pq.read_table(pipe.path("documents"), columns=["id", "payload"])
            documents = Counter(zip(docs.column("id").to_pylist(), docs.column("payload").to_pylist()))
            once_ok = {
                json.loads(line)["id"]
                for line, n in success.items()
                if n == 1 and _same_record(line, self.records)
            }
            good += sum(
                1
                for (rid, payload), n in documents.items()
                if n == 1 and rid in once_ok and _same_record(payload, self.records)
            )
        return good

    def windows_ms(self) -> list[tuple[float, float]]:
        return self.windows

    def per_layer(self) -> dict[str, float]:
        flushes = self.flushes()
        out = measure.progress_ledger(flushes)
        trigger = sum(p["durationMs"]["triggerExecution"] for p in flushes)
        bulk = [ms for _, s in self.pipes for _, ms in s.calls]
        out["stream.fixed_ms"] = 1000.0 * sum(self.walls_s) - trigger
        out["delivery.flushes"] = float(len(flushes))
        out["delivery.records_per_flush"] = (
            sum(p["numInputRows"] for p in flushes) / len(flushes)
        )
        out["delivery.other_ms"] = out["stream.addBatch_ms"] - sum(bulk)
        out["delivery.backup_retries"] = float(sum(p.result.backup_retries for p, _ in self.pipes))
        out["delivery.doc_sink_retries"] = float(
            sum(p.result.doc_sink_retries for p, _ in self.pipes)
        )
        for key, prefix in (
            ("backup", PREFIX_BACKUP),
            ("success", PREFIX_SUCCESS),
            ("documents", "documents"),
        ):
            out[f"delivery.sink_files.{key}"] = float(
                sum(p.count_sink_objects(prefix) for p, _ in self.pipes)
            )
        out["doc_sink.bulk_index_ms"] = sum(bulk)
        out["doc_sink.calls"] = float(len(bulk))
        # Each flush's bulk_index runs inside that flush's addBatch.
        add_batch = {
            (p["id"], p["batchId"]): p["durationMs"].get("addBatch", 0) for p in flushes
        }
        out["trace.invariant_violations"] = float(
            sum(
                1
                for pipe, sink in self.pipes
                for batch_id, ms in sink.calls
                if ms > add_batch.get((str(pipe.last_query.id), batch_id), 0)
            )
        )
        return out


# Catalog queries are chosen by tag, then systematically sampled (from
# ``start``, every ``stride``-th by catalog number) so one pass fits the
# timed window.  The dedup group starts at its second query: the first,
# q25, is a plain groupBy that runs no operator.
CATALOG_GROUPS = (
    # (label, tag rule, start, stride)
    ("drain", lambda tags: "streaming" in tags and "stateful" not in tags, 0, 21),
    ("drain-stateful", lambda tags: "streaming" in tags and "stateful" in tags, 0, 2),
    ("relational", lambda tags: "llm" not in tags and "streaming" not in tags, 0, 12),
    ("dedup", lambda tags: "llm" in tags and "dedup" in tags and "streaming" not in tags, 1, 28),
    (
        "similarity",
        lambda tags: "llm" in tags and "similarity" in tags
        and "dedup" not in tags and "streaming" not in tags,
        0,
        10,
    ),
)


def _qnum(name: str) -> int:
    return int(name[1:].split("_")[0])


def catalog_queries() -> list[tuple[str, str]]:
    """``(group, query name)`` for every query in the catalog workload."""
    specs = all_specs()
    out = []
    for label, rule, start, stride in CATALOG_GROUPS:
        names = sorted((n for n, s in specs.items() if rule(s.tags)), key=_qnum)
        out.extend((label, n) for n in names[start::stride])
    return out


def oracle_match(rows: list, columns: list[str], oracle: str, sf_dir: str) -> tuple[bool, str]:
    """``tests.oracle_utils.compare`` on rows already collected, so the
    check does not run the query again."""
    import pandas as pd

    from tests.oracle_utils import canonicalize, duckdb_result

    got = pd.DataFrame([tuple(r) for r in rows], columns=columns)
    want = duckdb_result(oracle, sf_dir)
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"row counts differ: {len(got)} vs {len(want)}"
    if canonicalize(got) != canonicalize(want):
        return False, "values differ"
    return True, "ok"


@dataclass
class Call:
    name: str
    group: str
    build_ms: float = 0.0
    collect_ms: float = 0.0
    wall_ms: float = 0.0
    epoch_ms: tuple[float, float] = (0.0, 0.0)
    rows: list | None = None
    schema: object = None
    error: str | None = None
    layers: dict = field(default_factory=dict)

    @property
    def drain(self) -> bool:
        return self.group.startswith("drain")


class Catalog:
    """``catalog``: real availableNow drains (``streaming`` tag) plus
    batch relational, dedup and similarity queries at sf0.1, each pass
    in a seed-permuted order.  ``sweep_s`` sums each query's median
    wall time over the passes."""

    seconds_per_pass = 5.0  # a warm pass on 4 quiet cores

    def __init__(self, spark: SparkSession, work: str, seed: int, seconds: int,
                 recorder: ProgressRecorder, tables_dir: str, trace: bool = False,
                 jvm: int | None = None) -> None:
        self.spark, self.seed, self.recorder, self.trace = spark, seed, recorder, trace
        self.n_passes = round(seconds / self.seconds_per_pass)
        self.jvm = jvm
        self.sf_dir = tables_dir
        self.queries = catalog_queries()
        self.specs = all_specs()
        self.calls: list[Call] = []
        self.passes = Passes()
        self.measure_start_ms = 0.0

    def prepare(self) -> float:
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(self.spark, self.sf_dir, t).count()
        return time.perf_counter() - t0

    def _call(self, group: str, name: str, keep_rows: bool) -> Call:
        """One query unit: the plan-building call, collect, and the
        documented release.  ``wall_ms`` spans all three but leaves out
        the traced run's own probes, so build + collect falls short of
        it by exactly the time the plans layer does not account for."""
        spec = self.specs[name]
        call = Call(name, group)
        before = hygiene_snapshot(self.spark) if self.trace else None
        e0, t0 = time.time() * 1000.0, time.perf_counter()
        try:
            df = spec.spark(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            call.build_ms, call.collect_ms = (t1 - t0) * 1e3, (time.perf_counter() - t1) * 1e3
            call.schema = df.schema
            if keep_rows:
                call.rows = rows
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            call.error = f"{type(exc).__name__}: {exc}"[:300]
        t_probe = time.perf_counter()
        if self.trace:
            if call.error is None:
                call.layers.update(catalyst_phases_ms(df))
            call.layers.update(hygiene_delta(before, hygiene_snapshot(self.spark)))
        probe_ms = (time.perf_counter() - t_probe) * 1e3
        release_staging()
        self.spark.catalog.clearCache()
        call.wall_ms = (time.perf_counter() - t0) * 1e3 - probe_ms
        call.epoch_ms = (e0, time.time() * 1000.0)
        return call

    def _order(self, pass_no: int) -> list[tuple[str, str]]:
        order = list(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        return order

    def warm(self) -> None:
        for group, name in self._order(-1):
            self._call(group, name, keep_rows=False)

    def _pass(self, i: int) -> None:
        for group, name in self._order(i):
            self.calls.append(self._call(group, name, keep_rows=True))

    def measure(self) -> None:
        self.measure_start_ms = time.time() * 1000.0
        self.passes.run(self.jvm, self.n_passes, self._pass)
        self.recorder.wait_terminated(self.recorder.started_ids())

    def end_to_end(self) -> dict:
        per_query: dict[str, list[float]] = {}
        for c in self.calls:
            per_query.setdefault(c.name, []).append(c.wall_ms)
        return {
            "sweep_s": sum(measure.median(v) for v in per_query.values()) / 1000.0,
            "units_ms": [c.wall_ms for c in self.calls],
        }

    def check(self) -> Check:
        c = Check(attempted=len(self.calls))
        first: dict[str, list] = {}
        for call in self.calls:
            if call.error:
                c.fail(1, f"{call.name}: {call.error}")
                continue
            key = sorted(map(repr, call.rows))
            if call.name not in first:
                first[call.name] = key
                spec = self.specs[call.name]
                if spec.oracle is None:
                    continue  # rows-only check: the call returned
                ok, msg = oracle_match(call.rows, call.schema.names, spec.oracle, self.sf_dir)
                if not ok:
                    c.fail(1, f"{call.name}: {msg}")
                    first[call.name] = None
            elif first[call.name] is None or key != first[call.name]:
                c.fail(1, f"{call.name}: rows differ between passes")
        return c

    def windows_ms(self) -> list[tuple[float, float]]:
        return [c.epoch_ms for c in self.calls]

    def detail(self) -> list:
        return [
            {"query": c.name, "build_ms": c.build_ms, "collect_ms": c.collect_ms}
            for c in self.calls
        ]

    def per_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for c in self.calls:
            for k, v in c.layers.items():
                out[k] = out.get(k, 0.0) + v
        out["plans.build_ms"] = sum(c.build_ms for c in self.calls)
        out["plans.collect_ms"] = sum(c.collect_ms for c in self.calls)
        out["streaming_q.leaked_views"] = sum(
            c.layers.get("hygiene.temp_views", 0.0) for c in self.calls if c.drain
        )
        progress = self.recorder.since(self.measure_start_ms)
        out.update(measure.progress_ledger(progress))
        drain_build = sum(c.build_ms for c in self.calls if c.drain)
        out["stream.fixed_ms"] = drain_build - out["stream.trigger_ms"]
        out["trace.invariant_violations"] = float(
            sum(
                1
                for c in self.calls
                if c.error is None and abs(c.build_ms + c.collect_ms - c.wall_ms) > 0.05 * c.wall_ms
            )
        )
        return out
