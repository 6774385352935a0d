"""Per-layer measurement for the traced run, all taken from outside the
program: Spark's event log, a counting wrapper around ``fsio.FS``, the
program's own lineage and metrics tables, and direct calls into the
engine modules.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")

PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


class EventLog:
    """The parts of one application's event log the benchmark reads."""

    def __init__(self, log_dir: str):
        files = glob.glob(os.path.join(log_dir, "local-*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.write_target: dict[int, str] = {}  # execution id -> write path
        self.exec_span: dict[int, list[float]] = {}  # execution id -> [start, end] ms
        self.udf_acc: dict[int, str] = {}  # accumulator id -> text | media | other
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        with open(files[0]) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict) -> None:
        name, simple = info["nodeName"], info.get("simpleString", "")
        if "InsertIntoHadoopFsRelationCommand" in name:
            m = _WRITE_RE.search(simple)
            if m:
                self.write_target[exec_id] = m.group(1)
        if "Python" in name:
            kind = (
                "media" if "extract_media_udf" in simple
                else "text" if "extract_text_udf" in simple
                else "other"
            )
            for m in info.get("metrics", []):
                self.udf_acc[int(m["accumulatorId"])] = kind
        for child in info.get("children", []):
            self._plan(exec_id, child)

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(int(e["executionId"]), e["sparkPlanInfo"])
            if ev.endswith("SparkListenerSQLExecutionStart"):
                self.exec_span[int(e["executionId"])] = [e["time"], None]
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            span = self.exec_span.get(int(e["executionId"]))
            if span:
                span[1] = e["time"]
        elif ev == "SparkListenerJobStart":
            ex = (e.get("Properties") or {}).get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "t0": e["Submission Time"],
                "exec": int(ex) if ex is not None else None,
                "stages": list(e["Stage IDs"]),
            }
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            acc = defaultdict(float)
            for a in info.get("Accumulables", []):
                if "Update" in a and a.get("Name"):
                    try:
                        acc[(int(a["ID"]), a["Name"])] += float(a["Update"])
                    except (TypeError, ValueError):
                        pass
            sr = tm.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur_ms": info["Finish Time"] - info["Launch Time"],
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "acc": acc,
            })

    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[tuple[int, dict]]:
        return sorted(
            ((j, v) for j, v in self.jobs.items() if t0_ms <= v["t0"] <= t1_ms and "t1" in v),
            key=lambda jv: (jv[1]["t0"], jv[0]),
        )

    def span(self, job: dict) -> tuple[float, float]:
        """A job's interval, widened to its SQL execution's: the physical
        planning before the first job and the driver-side output commit
        after the last one run inside the execution but in no job."""
        ex = self.exec_span.get(job["exec"])
        if ex is None or ex[1] is None:
            return job["t0"], job["t1"]
        return min(job["t0"], ex[0]), max(job["t1"], ex[1])

    def tasks_of(self, job_ids) -> list[dict]:
        js = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in seconds of the union of [a, b] ms intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        a = max(a, end)
        if b <= a:
            continue
        total += b - a
        end = b
    return total / 1e3


def task_totals(log: EventLog, tasks: list[dict]) -> dict[str, float]:
    acc = defaultdict(float)
    for t in tasks:
        for (aid, name), v in t["acc"].items():
            acc[name] += v
            if name == PY_RUN:
                acc[f"{PY_RUN}:{log.udf_acc.get(aid, 'other')}"] += v
    return {
        "python_run_s": acc[PY_RUN] / 1e3,
        "text_python_run_s": acc[f"{PY_RUN}:text"] / 1e3,
        "media_python_run_s": acc[f"{PY_RUN}:media"] / 1e3,
        "python_start_s": sum(acc[n] for n in PY_START) / 1e3,
        "python_bytes_sent": acc[PY_SENT],
        "python_bytes_returned": acc[PY_BACK],
        "shuffle_write_bytes": float(sum(t["shuffle_write"] for t in tasks)),
        "shuffle_read_bytes": float(sum(t["shuffle_read"] for t in tasks)),
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
    }


def udf_task_skew(log: EventLog, tasks: list[dict]) -> float:
    """Worst stage's max/median task duration over stages running a UDF."""
    by_stage: dict[int, list[float]] = defaultdict(list)
    udf_stages = set()
    for t in tasks:
        by_stage[t["stage"]].append(t["dur_ms"])
        if any(aid in log.udf_acc for aid, _ in t["acc"]):
            udf_stages.add(t["stage"])
    skews = [
        max(d) / max(statistics.median(d), 1.0)
        for s, d in by_stage.items()
        if s in udf_stages and len(d) > 1
    ]
    return max(skews, default=0.0)


LAYERS = ("scan_count", "extract_spans", "reassemble", "metrics")


def _layer_of_target(path: str | None) -> str | None:
    if path is None:
        return None
    if "/spans/run_id=" in path:
        return "extract_spans"
    if "/_staging_" in path:
        return "reassemble"
    if path.rstrip("/").endswith("/metrics"):
        return "metrics"
    return None


def pipeline_layers(
    log: EventLog, t0_ms: float, t1_ms: float, clock: dict[str, list[tuple[float, float]]]
) -> dict[str, float]:
    """Split one extract_corpus call into its layers by the write target
    of each job's SQL execution. Jobs with no write (the doc count, the
    spans re-read, the metrics total) join the layer they serve: before
    the first spans write is the scan/count, after the metrics write is
    metrics, otherwise the next layer that writes. A layer's time is the
    union of its jobs' intervals, each widened to its SQL execution's
    and to the pyspark call it ran in, and of its plan-building calls
    (`clock`, the intervals a DriverClock recorded).

    driver_s is the union of the "driver" intervals, the driver's own
    work timed in the benchmark process, not the time the jobs leave
    over; so layer_coverage falls below 1 by the share of the call that
    nothing timed accounts for, and rises above 1 if layers overlap."""
    jobs = log.jobs_in(t0_ms, t1_ms)
    labels: list[str | None] = [
        _layer_of_target(log.write_target.get(v["exec"])) for _, v in jobs
    ]
    seen_spans = seen_metrics = False
    for i, lab in enumerate(labels):
        if lab == "extract_spans":
            seen_spans = True
        elif lab == "metrics":
            seen_metrics = True
        elif lab is None:
            if not seen_spans:
                labels[i] = "scan_count"
            elif seen_metrics:
                labels[i] = "metrics"
            else:
                labels[i] = next((x for x in labels[i + 1:] if x), "metrics")
    out: dict[str, float] = {}
    every = list(clock.get("driver", []))
    for layer in LAYERS:
        iv = list(clock.get(f"plan:{layer}", []))
        for (_, v), lab in zip(jobs, labels):
            if lab == layer:
                iv.append(log.span(v))
                iv.extend(a for a in clock.get("action", []) if a[0] <= v["t0"] <= a[1])
        out[f"{layer}_s"] = _union_s(iv, t0_ms, t1_ms)
        every += iv
    wall = (t1_ms - t0_ms) / 1e3
    out["driver_s"] = _union_s(clock.get("driver", []), t0_ms, t1_ms)
    out["layer_coverage"] = (sum(out[f"{x}_s"] for x in LAYERS) + out["driver_s"]) / wall
    # the part of the call that nothing timed covers; when no two layers
    # overlap, layer_coverage == 1 - unattributed_s / wall
    out["unattributed_s"] = wall - _union_s(every, t0_ms, t1_ms)
    tasks = log.tasks_of(j for j, _ in jobs)
    out.update(task_totals(log, tasks))
    out["udf_task_skew"] = udf_task_skew(log, tasks)
    return out


def query_shuffle_bytes(log: EventLog, t0_ms: float, t1_ms: float) -> float:
    """Shuffle bytes written by the jobs of one query."""
    jobs = log.jobs_in(t0_ms, t1_ms)
    return float(sum(t["shuffle_write"] for t in log.tasks_of(j for j, _ in jobs)))


# --------------------------------------------------------- driver clock


FS_METHODS = ("rename", "write_text_atomic", "listdir", "exists", "delete")
# every fsio.FS method the driver calls; all are timed, FS_METHODS counted
FS_TIMED = FS_METHODS + ("is_dir", "mkdirs", "read_text", "read_text_or_empty")
# extract_corpus's driver-side steps: manifest read, commit loop, compaction
DRIVER_FNS = ("read_manifest_state", "_commit_buckets", "_compact_manifest")
# the pipeline functions that build each layer's plan
PLAN_FNS = {
    "load_corpus": "scan_count",
    "load_media": "extract_spans",
    "extract_spans": "extract_spans",
    "reassemble": "reassemble",
    "compute_metrics": "metrics",
}
# the pyspark calls that run extract_corpus's jobs; each one's interval
# also covers the analysis and planning that precede its jobs
ACTIONS = (
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet"),
    ("pyspark.sql.readwriter", "DataFrameReader", "parquet"),
    ("pyspark.sql.dataframe", "DataFrame", "count"),
    ("pyspark.sql.dataframe", "DataFrame", "first"),
)


class DriverClock:
    """While installed, wraps the driver-side calls of extract_corpus in
    the benchmark process and records the wall interval (epoch ms) of
    each outermost call, by kind:

    - "driver": every fsio.FS call and every DRIVER_FNS step;
    - "action": every ACTIONS call;
    - "plan:<layer>": every PLAN_FNS call.

    It also counts the FS_METHODS calls and sums the time of the
    outermost FS calls, so write_text_atomic's inner rename is counted
    but not timed twice."""

    def __init__(self):
        self.calls = {m: 0 for m in FS_METHODS}
        self.fs_time_s = 0.0
        self.intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._orig: list[tuple[object, str, object]] = []

    def _wrap(self, kind: str, name: str, fn):
        def wrapped(*a, **kw):
            depth = getattr(self._depth, kind, 0)
            setattr(self._depth, kind, depth + 1)
            e0, t0 = time.time() * 1e3, time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                setattr(self._depth, kind, depth)
                dt = time.perf_counter() - t0
                with self._lock:
                    if kind == "fs" and name in self.calls:
                        self.calls[name] += 1
                    if depth == 0:
                        self.intervals["driver" if kind == "fs" else kind].append((e0, e0 + dt * 1e3))
                        if kind == "fs":
                            self.fs_time_s += dt

        return wrapped

    def _patch(self, kind: str, owner, name: str) -> None:
        fn = getattr(owner, name)
        self._orig.append((owner, name, fn))
        setattr(owner, name, self._wrap(kind, name, fn))

    def __enter__(self) -> "DriverClock":
        import importlib

        from text_extraction_spark import pipeline
        from text_extraction_spark.fsio import FS

        for m in FS_TIMED:
            self._patch("fs", FS, m)
        for m in DRIVER_FNS:
            self._patch("driver", pipeline, m)
        for m, layer in PLAN_FNS.items():
            self._patch(f"plan:{layer}", pipeline, m)
        for mod, cls, m in ACTIONS:
            self._patch("action", getattr(importlib.import_module(mod), cls), m)
        return self

    def __exit__(self, *exc) -> None:
        for owner, m, fn in reversed(self._orig):
            setattr(owner, m, fn)


# ------------------------------------------------------- program output


def lineage_metrics(out_path: str) -> dict[str, float]:
    """Per-kind UDF time from the spans lineage table and the drop
    ratios from the metrics table of one extract_corpus output."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    spans = ds.dataset(os.path.join(out_path, "spans"), format="parquet", partitioning="hive")
    t = spans.to_table(columns=["kind", "proc_ms"])
    out = {}
    for kind in ("text", "media"):
        sel = t.filter(pc.equal(t["kind"], kind))["proc_ms"]
        out[f"{kind}_udf_ms"] = float(pc.sum(sel).as_py() or 0.0)
    m = ds.dataset(os.path.join(out_path, "metrics"), format="parquet").to_table()
    tot = {c: float(pc.sum(m[c]).as_py() or 0) for c in ("spans_in", "spans_out", "media_ok", "media_err")}
    media = tot["media_ok"] + tot["media_err"]
    out["media_ok_ratio"] = tot["media_ok"] / media if media else 0.0
    out["spans_out_ratio"] = tot["spans_out"] / tot["spans_in"] if tot["spans_in"] else 0.0
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ------------------------------------------------------------- engine


def _stats(prefix: str, ms: list[float]) -> dict[str, float]:
    """Per-item median and p90 (p90 keeps >= 10 samples above it from
    100 items up; the samples below are sized for that)."""
    if not ms:
        return {f"{prefix}.p50_ms": 0.0, f"{prefix}.p90_ms": 0.0}
    s = sorted(ms)
    return {
        f"{prefix}.p50_ms": statistics.median(s),
        f"{prefix}.p90_ms": s[min(len(s) - 1, int(0.9 * len(s)))],
    }


DECODE_FMTS = ("raw-u8", "raw-rgb8", "png")
MEDIA_SAMPLE = 2048
TEXT_SAMPLE = 1000


def engine_metrics(media_rows: list[dict], texts: list[str], batch: int) -> dict[str, float]:
    """Time each engine stage per item, in process, over the given rows.
    Threshold+denoise runs stacked per same-shape group within each
    Arrow-sized batch, as pipeline._extract_media_batch does; each item
    is charged its group's time divided by the group size."""
    import numpy as np
    from text_extraction_spark.corpus import is_skewed_media
    from text_extraction_spark.engine.boilerplate import extract_main
    from text_extraction_spark.engine.imageproc import (
        adaptive_threshold_batch, decode_image, denoise_batch,
    )
    from text_extraction_spark.engine.ocr import extract_table_from_mask, normalize_text
    from text_extraction_spark.engine.pdfproc import extract_pdf_text

    pc = time.perf_counter
    decode = {f: [] for f in DECODE_FMTS}
    td, table, table_skew, pdf, text = [], [], [], [], []
    groups_seen = imgs_grouped = 0
    for lo in range(0, len(media_rows), batch):
        grays, refs = {}, {}
        for i, r in enumerate(media_rows[lo:lo + batch]):
            t0 = pc()
            if r["fmt"] == "pdf":
                extract_pdf_text(r["data"])
                pdf.append((pc() - t0) * 1e3)
                continue
            g = decode_image(r["data"], r["width"], r["height"], r["fmt"])
            decode.setdefault(r["fmt"], []).append((pc() - t0) * 1e3)
            grays[i], refs[i] = g, r["media_ref"]
        by_shape: dict[tuple, list[int]] = defaultdict(list)
        for i, g in grays.items():
            by_shape[g.shape].append(i)
        for idxs in by_shape.values():
            t0 = pc()
            masks = denoise_batch(adaptive_threshold_batch(np.stack([grays[i] for i in idxs])))
            td.extend([(pc() - t0) * 1e3 / len(idxs)] * len(idxs))
            groups_seen += 1
            imgs_grouped += len(idxs)
            for j, i in enumerate(idxs):
                t0 = pc()
                try:
                    extract_table_from_mask(masks[j])
                except Exception:  # noqa: BLE001 — a dropped item still costs time
                    pass
                (table_skew if is_skewed_media(refs[i]) else table).append((pc() - t0) * 1e3)
    for s in texts:
        t0 = pc()
        normalize_text(extract_main(s))
        text.append((pc() - t0) * 1e3)
    out: dict[str, float] = {}
    for f in DECODE_FMTS:
        out.update(_stats(f"engine.imageproc.decode.{f}", decode[f]))
    out.update(_stats("engine.imageproc.threshold_denoise", td))
    out["engine.imageproc.imgs_per_shape_group"] = imgs_grouped / groups_seen if groups_seen else 0.0
    out.update(_stats("engine.ocr.table", table))
    out.update(_stats("engine.ocr.table_skewed", table_skew))
    out.update(_stats("engine.pdfproc.pdf", pdf))
    out.update(_stats("engine.textproc.text", text))
    return out


def media_sample(media_parquet: str, n: int = MEDIA_SAMPLE) -> list[dict]:
    """The first n media rows of a media table, in file order."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(media_parquet)
    rows: list[dict] = []
    for b in f.iter_batches(batch_size=256):
        rows.extend(b.to_pylist())
        if len(rows) >= n:
            break
    return rows[:n]
