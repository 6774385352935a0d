#!/usr/bin/env python3
"""Benchmark of the interleaved-extraction program.

    python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds its seeded inputs (cached in
.bench_cache/, untimed), starts a Spark session at local[nproc] through
conf.get_spark, runs the discarded warm-up pass, then runs the
workload's operation until --seconds have passed. Output correctness is
checked after all timing. Each metric is printed as a line
"name value unit", and the last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, measured in a second, traced pass (see perfbench/README.md), and
the full report is written to .bench_out/trace-<workload>.json.

--smoke runs the workload at a tiny size, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUPS = 3  # session starts per run; setup_s takes their median
# items_per_s is a median over at least this many operations: the first
# one after the warm-up still runs while the JVM is compiling. A third
# costs 8-10 s a run, which pushed 48 runs past the 3420 s budget on a
# contended host; the run-to-run spread there comes from whole runs
# slowing down together, which more operations per run do not remove
MIN_OPS = 2


def metric_spec(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every `kind` ("end_to_end" or "per_layer") metric
    in BENCHMARK.json, in file order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


# Which end-to-end metric each layer metric should move, and where.
LAYER_MAP = {
    "setup.*, conf.session_start_s": "setup_s on every workload",
    "pipeline.python_start_s": "items_per_s (docs/s) on extract-*: paid in every call "
        "(summed over the UDF tasks), not only in setup_s",
    "pipeline.extract_spans_s, pipeline.media_python_run_s, pipeline.udf_task_skew, "
    "pipeline.media_udf_ms, engine.imageproc.*, engine.ocr.*, engine.pdfproc.*":
        "items_per_s (docs/s) on extract-mixed; no change predicted on extract-text",
    "pipeline.reassemble_s, pipeline.scan_count_s, pipeline.metrics_s, pipeline.driver_s, "
    "pipeline.shuffle_*_bytes, pipeline.text_udf_ms, engine.textproc.*, fsio.*":
        "items_per_s (docs/s) on extract-text first, then extract-mixed",
    "pipeline.media_ok_ratio, pipeline.spans_out_ratio":
        "a fall also shows as gate.golden_mismatch_docs > 0 (correct: false)",
    "<module>.<query>.wall_s, <module>.<query>.shuffle_bytes":
        "items_per_s (queries/s) on query-plane; no change predicted on extract-*",
    "mem.peak_rss_mb": "no end-to-end metric (it varies by more than a tenth between runs)",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "text_extraction_spark/pipeline.py")
    )


def _measure(wl, spark, work: str, seconds: float, first: int) -> list:
    """Run MIN_OPS operations, then more while the next one, taking as
    long as the last, would end within `seconds` of the start."""
    ops, end = [], time.perf_counter() + seconds
    while len(ops) < MIN_OPS or time.perf_counter() + ops[-1].wall_s <= end:
        ops.append(wl.op(spark, work, first + len(ops)))
    return ops


def _items_per_s(ops) -> float:
    return _median([op.items / op.wall_s for op in ops if not op.raised])


def _setup(sess, wl, work: str):
    """JVM launch, SETUPS session starts, then the discarded warm-up pass."""
    jvm_s = sess.launch_jvm()
    starts = []
    for k in range(SETUPS):
        if k:
            sess.stop()
        t0 = time.perf_counter()
        spark = sess.start()
        starts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.warmup(spark, work)
    parts = {
        "setup.jvm_launch_s": jvm_s,
        "conf.session_start_s": _median(starts),
        "setup.warmup_s": time.perf_counter() - t0,
    }
    return spark, parts, starts


def _traced(sess, wl, work: str, seconds: float, first: int):
    """Restart the session with the event log on, run the operations
    again with fsio.FS wrapped, and read every per-layer metric. Then run
    untraced operations once more: with the untraced ones before, they
    bracket the traced ones, so the JVM still warming up over the run
    does not count as tracing overhead."""
    from layers import DriverClock, EventLog, engine_metrics
    from session import event_log_conf
    from text_extraction_spark.conf import ARROW_MAX_RECORDS_PER_BATCH

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    sess.stop()
    spark = sess.start(event_log_conf(log_dir))
    sess.first_touch()  # the Python workers start outside the timed operations
    with DriverClock() as clock:
        traced = _measure(wl, spark, work, seconds, first)
    sess.stop()  # closes the event log
    spark = sess.start()
    sess.first_touch()
    after = _measure(wl, spark, work, seconds, first + len(traced))
    gate = wl.gate(spark, traced + after)
    layer = wl.layer_metrics(EventLog(log_dir), traced, clock.intervals)
    for m, c in clock.calls.items():
        layer[f"fsio.{m}.calls"] = c / len(traced)
    layer["fsio.time_s"] = clock.fs_time_s / len(traced)
    layer.update(engine_metrics(*wl.engine_rows(), ARROW_MAX_RECORDS_PER_BATCH))
    return traced, after, gate, layer


def run(wl, work: str, seconds: float, trace: bool) -> dict:
    from session import PeakRss, Session

    sess = Session(work)
    phases = {}
    t_run = time.perf_counter()
    try:
        spark, parts, starts = _setup(sess, wl, work)
        phases["setup"] = time.perf_counter() - t_run
        with PeakRss(sess) as rss:
            ops = _measure(wl, spark, work, seconds, 0)
        phases["measure"] = time.perf_counter() - t_run - phases["setup"]
        t0 = time.perf_counter()
        failed, notes, mismatch = wl.gate(spark, ops)
        phases["gate"] = time.perf_counter() - t0
        attempted = wl.attempted(ops)
        e2e = {"setup_s": sum(parts.values()), "items_per_s": _items_per_s(ops)}
        report = {"ops_wall_s": [op.wall_s for op in ops], "phases_s": phases, "starts_s": starts,
                  "query_wall_s": {q: [op.query_walls[q][0] for op in ops] for q in ops[0].query_walls}}
        # metrics of a layer the workload does not run read 0
        layer = {n: 0.0 for n, _ in metric_spec("per_layer")}
        layer.update(parts)
        layer["mem.peak_rss_mb"] = rss.peak
        if trace:
            tops, after, (tfailed, tnotes, tmismatch), traced = _traced(
                sess, wl, work, seconds, len(ops)
            )
            layer.update(traced)
            failed, mismatch, notes = failed + tfailed, mismatch + tmismatch, notes + tnotes
            attempted += wl.attempted(tops + after)
            layer["trace.items_per_s"] = _items_per_s(tops)
            # the JVM keeps speeding up over the run, so the traced
            # operations are held against the mean of the untraced ones
            # before and after them
            before, later = e2e["items_per_s"], _items_per_s(after)
            if before and later:
                layer["trace.overhead_share"] = 1.0 - layer["trace.items_per_s"] / ((before + later) / 2)
            report["traced_ops_wall_s"] = [op.wall_s for op in tops]
            report["untraced_after_ops_wall_s"] = [op.wall_s for op in after]
        layer["gate.golden_mismatch_docs"] = float(mismatch)
        layer["gate.failed_share"] = failed / max(attempted, 1)
        return {
            "end_to_end": e2e,
            "per_layer": layer,
            "attempted": attempted,
            "failed": failed,
            "notes": notes,
            "report": report,
        }
    finally:
        t0 = time.perf_counter()
        sess.shutdown()
        phases["shutdown"] = time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's tests")
    ns = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from session import become_subreaper, reap_descendants

    become_subreaper()
    try:
        return _main(ns)
    finally:
        reap_descendants()


def _main(ns) -> int:
    import workloads
    from session import nproc

    tag = ns.workload + ("-smoke" if ns.smoke else "")
    work = os.path.join(ROOT, ".bench_work", tag)
    cache = os.path.join(ROOT, ".bench_cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark and the Python workers write their temp files under the run's
    # own work dir. The program's fixture stores (conf.cache_root, a dir
    # under TMPDIR) are linked to .bench_cache, so they are built on the
    # first run in a checkout and not again inside every run's setup_s.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    store = os.path.join(cache, f"tes_cache_{os.getuid()}")
    os.makedirs(store, mode=0o700, exist_ok=True)
    os.symlink(store, os.path.join(work, "tmp", os.path.basename(store)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None

    wl = workloads.make(ns.workload, ns.smoke)
    t0 = time.perf_counter()
    wl.prepare(cache, ns.seed, nproc())
    gen_s = time.perf_counter() - t0
    try:
        res = run(wl, work, ns.seconds, bool(ns.trace))
    finally:
        shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    kind = "per_layer" if ns.trace else "end_to_end"
    metrics = {name: {"value": float(res[kind][name]), "unit": unit} for name, unit in metric_spec(kind)}
    for note in res["notes"]:
        print(f"gate: {note}")
    print(f"# {ns.workload} seed={ns.seed} size={wl.size} nproc={nproc()} "
          f"input_gen_s={gen_s:.3f} ops={[round(w, 2) for w in res['report']['ops_wall_s']]} starts={[round(x, 1) for x in res['report']['starts_s']]} "
          + " ".join(f"{k}_s={v:.1f}" for k, v in res["report"]["phases_s"].items()))
    for q, walls in res["report"]["query_wall_s"].items():
        print(f"# {q} " + " ".join(f"{w:.3f}" for w in walls))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if ns.trace:
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{tag}.json"), "w") as fh:
            json.dump({
                "workload": ns.workload, "seed": ns.seed, "size": wl.size, "nproc": nproc(),
                "untraced": res["end_to_end"], "per_layer": res["per_layer"],
                "attempted": res["attempted"], "failed": res["failed"],
                "layer_map": LAYER_MAP, **res["report"],
            }, fh, indent=1)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
