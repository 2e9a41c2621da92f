"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q

The last test starts a Spark session and drains a tiny backlog."""

from __future__ import annotations

import json
import os
import sys

import pytest

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_interval_union_counts_overlap_once():
    jobs = [(0, 10), (5, 15), (20, 30), (25, 26)]
    assert measure.interval_union_ms(jobs, 0, 100) == 25
    # clipped to the window; a job wholly outside it adds nothing
    assert measure.interval_union_ms(jobs + [(200, 300)], 8, 22) == 9
    assert measure.interval_union_ms([], 0, 10) == 0


def test_tail_has_ten_samples_beyond():
    vals = list(range(1, 31))  # 30 samples, shuffled order must not matter
    value, pct, n = measure.tail(reversed(vals))
    assert (value, n) == (20, 30)
    assert sum(v > value for v in vals) == 10
    assert pct == pytest.approx(100 * 20 / 30)
    # 11 samples: the minimum is the only order statistic with 10 beyond
    assert measure.tail(range(11))[0] == 0
    # too few samples: the minimum, and the percentile says so
    value, pct, n = measure.tail([5.0, 3.0])
    assert (value, n) == (3.0, 2) and pct == 50.0


def test_geomean_and_median():
    assert measure.geomean([1, 100]) == pytest.approx(10)
    assert measure.median([3, 1, 2]) == 2


def test_jit_cpu_of_this_process_is_zero():
    # A Python process has no JIT compiler threads; no JVM, no JIT time.
    assert measure.jit_cpu_s(os.getpid()) == 0.0
    assert measure.jit_cpu_s(None) == 0.0


def _job(jid, submit, end, stages):
    return [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": submit,
            "Stage Infos": [{"Stage ID": s} for s in stages],
        },
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _task(stage, run_ms, **extra):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            **extra,
        },
    }


def test_scheduler_ledger_on_small_event_log():
    events = (
        _job(0, 1000, 1400, [0, 1])  # overlaps job 1
        + _job(1, 1200, 1600, [2])
        + _job(2, 5000, 5100, [3])  # outside the window
        + [{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}}
           for s in (0, 2, 3)]  # stage 1 was skipped
        + [_task(0, 10), _task(0, 20), _task(2, 30), _task(3, 99)]
    )
    out = measure.scheduler_ledger(events, [(900, 2000)])
    assert out["spark.jobs"] == 2
    assert out["spark.stages"] == 2
    assert out["spark.tasks"] == 3
    assert out["spark.job_union_ms"] == 600  # 1000..1600, not 400 + 400
    assert out["spark.outside_jobs_ms"] == 1100 - 600
    assert out["spark.late_jobs"] == 0
    assert out["task.run_ms"] == 60
    assert out["task.cpu_ms"] == pytest.approx(60)
    assert out["task.gc_ms"] == 3
    assert out["shuffle.read_bytes"] == 21
    assert out["shuffle.write_bytes"] == 15


def test_scheduler_ledger_counts_jobs_outliving_their_window():
    events = _job(0, 1000, 1400, [0]) + _job(1, 1200, 2500, [1]) + _job(2, 1300, None, [2])
    events = [e for e in events if e.get("Completion Time", 0) is not None]
    out = measure.scheduler_ledger(events, [(900, 2000)])
    assert out["spark.late_jobs"] == 2  # job 1 ends late, job 2 never ends
    assert out["spark.job_union_ms"] == 1000  # still clipped to the window


def test_read_event_log_round_trip(tmp_path):
    events = _job(0, 1, 2, [0])
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert measure.read_event_log(str(p)) == events


def _progress(qid, batch, trigger, add_batch, state=None):
    return {
        "id": qid,
        "batchId": batch,
        "numInputRows": 10,
        "durationMs": {"triggerExecution": trigger, "addBatch": add_batch, "walCommit": 2},
        "stateOperators": state or [],
    }


def test_progress_ledger_on_listener_fixture():
    op = {"numRowsTotal": 7, "memoryUsedBytes": 100, "commitTimeMs": 3,
          "numStateStoreInstances": 4}
    progress = [
        _progress("a", 0, 50, 40, [dict(op, numRowsTotal=5)]),
        _progress("a", 1, 60, 45, [op]),
        _progress("b", 0, 30, 20),
    ]
    out = measure.progress_ledger(progress)
    assert out["stream.queries"] == 2
    assert out["stream.batches"] == 3
    assert out["stream.trigger_ms"] == 140
    assert out["stream.addBatch_ms"] == 105
    assert out["stream.walCommit_ms"] == 6
    assert out["state.rows_total"] == 7  # last batch of each query
    assert out["state.commit_ms"] == 6  # every batch
    assert out["state.instances"] == 4


def test_host_canary_shares():
    before = [0, 0, 0, 0, 0, 0, 0, 0]
    after = [50, 0, 10, 30, 5, 0, 0, 5]
    c = measure.host_canary(before, after)
    assert c == {"steal_pct": 5.0, "iowait_pct": 5.0, "busy_pct": 70.0}


def test_benchmark_json_names_every_metric():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == {k: run.layer_unit(k) for k in run.per_layer_names()}
    assert set(workloads.PER_LAYER) <= set(per_layer)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, ROOT)
    from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", extra_conf={"spark.driver.memory": "2g"})
    yield s


def test_delivery_reconciliation_on_tiny_backlog(spark, tmp_path):
    import workloads
    from probes import ProgressRecorder

    recorder = ProgressRecorder()
    spark.streams.addListener(recorder)
    try:
        w = workloads.Delivery(spark, str(tmp_path), seed=7, seconds=1, recorder=recorder)
        w.files_per_drain, w.records_per_file, w.passes.min_passes = 3, 50, 1
        w.prepare()
        w.measure()
        assert w.check().failed == 0
        assert len(w.flushes()) == 3
        layers = w.per_layer()
        assert layers["doc_sink.calls"] == 3
        assert layers["trace.invariant_violations"] == 0

        # A record lost from the document sink is counted as failed.
        docs = os.path.join(w.pipes[0][0].dest_dir, "documents")
        victim = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(docs) for f in fs if f.endswith(".parquet")
        )[0]
        os.remove(victim)
        check = w.check()
        assert check.failed == 50 and check.attempted == 150
    finally:
        spark.streams.removeListener(recorder)
