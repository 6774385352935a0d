"""The benchmark's own tests: seeded inputs, event-log
attribution, the missing-program exit, and smoke-size runs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_window_is_a_function_of_the_seed():
    a = inputs.window_chunks(5, 12)
    assert a == inputs.window_chunks(5, 12)
    assert a == list(range(a[0], a[0] + 12))
    starts = {inputs.window_chunks(s, 12)[0] for s in range(40)}
    assert starts == set(range(inputs.WINDOW_POSITIONS))
    assert workloads.WARMUP_CHUNK > inputs.WINDOW_POSITIONS + 64


def test_text_variant_keeps_only_text_spans(tmp_path):
    import pyarrow.parquet as pq

    d = str(tmp_path / "chunk")
    inputs._build_chunk((0, d))
    docs = pq.read_table(os.path.join(d, "text_documents.parquet")).to_pylist()
    gold = pq.read_table(os.path.join(d, "golden.parquet")).to_pylist()
    tgold = pq.read_table(os.path.join(d, "text_golden.parquet")).to_pylist()
    assert len(docs) == inputs.CHUNK_DOCS
    assert all(s["kind"] == "text" for r in docs for s in r["spans"])
    # the text golden is the full golden without its media spans
    for g, t in zip(gold, tgold):
        assert [s["text"] for s in g["spans"] if s["kind"] == "text"] == [
            s["text"] for s in t["spans"]
        ]
        assert [s["order"] for s in t["spans"]] == list(range(len(t["spans"])))


def _write_log(path: str, out: str) -> None:
    """A synthetic event log: count, spans write, reassemble write with a
    schema-read job before it, metrics write, metrics total."""

    def plan(target, udf=None):
        node = {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
                "simpleString": f"Execute InsertIntoHadoopFsRelationCommand file:{target}, false, Parquet",
                "metrics": [], "children": []}
        if udf:
            node["children"].append({
                "nodeName": "ArrowEvalPython", "simpleString": f"ArrowEvalPython [{udf}(data#1)]",
                "metrics": [{"name": layers.PY_RUN, "accumulatorId": 7}], "children": []})
        return node if target else {"nodeName": "HashAggregate", "simpleString": "", "metrics": [], "children": []}

    # (exec, write target, start, end); exec 1 plans for 50 ms before its
    # job and commits its output for 50 ms after it
    execs = [(0, None, 1000, 1100), (1, f"{out}/spans/run_id=r0", 1150, 2250),
             (2, f"{out}/_staging_r0", 2300, 2800), (3, f"{out}/metrics", 2900, 3000),
             (4, None, 3000, 3050)]
    # (job, exec, start, end); job 5 has no execution (schema read)
    jobs = [(0, 0, 1000, 1100), (1, 1, 1200, 2200), (5, None, 2250, 2300),
            (2, 2, 2300, 2800), (3, 3, 2900, 3000), (4, 4, 3000, 3050)]
    ev = []
    ui = "org.apache.spark.sql.execution.ui."
    for e, target, t0, t1 in execs:
        ev.append({"Event": ui + "SparkListenerSQLExecutionStart", "executionId": e,
                   "time": t0, "sparkPlanInfo": plan(
                       target, "extract_media_udf_timed" if e == 1 else None)})
        ev.append({"Event": ui + "SparkListenerSQLExecutionEnd", "executionId": e, "time": t1})
    for j, e, t0, t1 in jobs:
        props = {} if e is None else {"spark.sql.execution.id": str(e)}
        ev.append({"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": t0,
                   "Stage IDs": [j], "Properties": props})
        durs = (100, 100, 300) if j == 1 else (10,)
        for d in durs:
            ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": j,
                       "Task Info": {"Launch Time": t0, "Finish Time": t0 + d, "Accumulables": (
                           [{"ID": 7, "Name": layers.PY_RUN, "Update": 500}] if j == 1 else [])},
                       "Task Metrics": {"Executor CPU Time": 10**9, "JVM GC Time": 0,
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}})
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": j, "Completion Time": t1})
    with open(path, "w") as fh:
        fh.write("".join(json.dumps(x) + "\n" for x in ev))


def test_pipeline_layers_from_event_log(tmp_path):
    _write_log(str(tmp_path / "local-1"), "/o")
    log = layers.EventLog(str(tmp_path))
    # timed in the benchmark process: two overlapping driver steps after
    # the jobs and one outside the call; the spans plan built before the
    # write call, which runs job 1
    clock = {"driver": [(3100, 3600), (3500, 3900), (4100, 4200)],
             "plan:extract_spans": [(1110, 1125)], "action": [(1120, 2240)]}
    r = layers.pipeline_layers(log, 1000, 4000, clock)
    assert r["scan_count_s"] == pytest.approx(0.1)
    assert r["extract_spans_s"] == pytest.approx(1.14)  # plan, call and execution
    assert r["reassemble_s"] == pytest.approx(0.55)  # the schema read joins it
    assert r["metrics_s"] == pytest.approx(0.15)
    assert r["driver_s"] == pytest.approx(0.8)
    # 0.1 s of the call (3900-4000 ms) is neither a job nor timed driver work
    assert r["layer_coverage"] == pytest.approx(2.74 / 3.0)
    assert r["unattributed_s"] == pytest.approx(3.0 - 2.74)  # no layers overlap
    # with nothing timed in the benchmark process only the executions count
    assert layers.pipeline_layers(log, 1000, 4000, {})["layer_coverage"] == pytest.approx(1.9 / 3.0)
    assert r["media_python_run_s"] == pytest.approx(1.5)
    assert r["text_python_run_s"] == 0
    assert r["udf_task_skew"] == pytest.approx(3.0)
    assert r["shuffle_write_bytes"] == 5 * 8


def test_driver_clock_times_outermost_calls_only():
    import time

    from text_extraction_spark.fsio import FS

    orig = {m: getattr(FS, m) for m in layers.FS_METHODS}
    try:
        FS.rename = lambda self, a, b: time.sleep(0.02) or True
        FS.write_text_atomic = lambda self, p, t, tmp_suffix: self.rename(p + tmp_suffix, p)
        stub = FS.rename
        with layers.DriverClock() as c:
            FS.write_text_atomic(FS.__new__(FS), "p", "t", tmp_suffix=".tmp")
        assert c.calls["write_text_atomic"] == 1 and c.calls["rename"] == 1
        assert 0.02 <= c.fs_time_s < 0.035
        (a, b), = c.intervals["driver"]
        assert 20 <= b - a < 35
        assert FS.rename is stub  # unwrapped on exit
    finally:
        for m, fn in orig.items():
            setattr(FS, m, fn)


def _run(args, cwd) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = _run(["--workload", "extract-mixed", "--seed", "1", "--seconds", "1", "--trace", "0"],
             str(tmp_path))
    assert p.returncode != 0
    assert "{" not in p.stdout


def _last_json(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_smoke_extract_mixed_traced():
    r = _last_json(_run(["--workload", "extract-mixed", "--seed", "3", "--seconds", "1",
                         "--trace", "1", "--smoke"], ROOT))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 2
    assert list(r["metrics"]) == [n for n, _ in run.metric_spec("per_layer")]
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert 0.9 <= m["pipeline.layer_coverage"] <= 1.1
    assert m["pipeline.extract_spans_s"] > 0 and m["engine.ocr.table.p50_ms"] > 0
    assert m["fsio.rename.calls"] > 0


def test_smoke_query_plane():
    r = _last_json(_run(["--workload", "query-plane", "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--smoke"], ROOT))
    assert r["correct"] and r["attempted"] >= 3
    assert list(r["metrics"]) == [n for n, _ in run.metric_spec("end_to_end")]
    assert all(v["value"] > 0 for v in r["metrics"].values())
