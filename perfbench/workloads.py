"""The benchmark's workloads. Each one prepares its seeded input, runs a
discarded warm-up pass, runs one measured operation at a time, and
checks the outputs of the operations it ran after all timing is done.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import inputs

# chunk index of the warm-up corpus, outside every seed's window
WARMUP_CHUNK = 4000


@dataclass
class Op:
    """One measured operation: an extract_corpus call or a query pass."""

    wall_s: float
    items: int
    t0_ms: float
    t1_ms: float
    out_path: str | None = None
    query_walls: dict[str, tuple[float, float, float]] = field(default_factory=dict)
    raised: list[str] = field(default_factory=list)
    in_bytes: int = 0


def _epoch_ms() -> float:
    return time.time() * 1e3


class Extraction:
    """One pipeline.extract_corpus call per operation, into a fresh out_path."""

    def __init__(self, name: str, text_only: bool, n_chunks: int):
        self.name = name
        self.text_only = text_only
        self.n_chunks = n_chunks
        self.size = f"{n_chunks * inputs.CHUNK_DOCS} docs"

    def prepare(self, cache: str, seed: int, workers: int) -> None:
        idxs = inputs.window_chunks(seed, self.n_chunks)
        self.in_path = inputs.extraction_input(cache, self.text_only, idxs, workers)
        self.warm_path = inputs.extraction_input(
            cache, self.text_only, [WARMUP_CHUNK], workers
        )
        self.in_bytes = inputs.input_bytes(self.in_path)
        self.n_docs = self.n_chunks * inputs.CHUNK_DOCS

    def warmup(self, spark, work: str) -> None:
        from text_extraction_spark.pipeline import extract_corpus

        extract_corpus(spark, self.warm_path, os.path.join(work, "warmup-out"), run_id="warm")

    def op(self, spark, work: str, i: int) -> Op:
        from text_extraction_spark.pipeline import extract_corpus

        out = os.path.join(work, f"out-{i}")
        e0, t0 = _epoch_ms(), time.perf_counter()
        try:
            r = extract_corpus(spark, self.in_path, out, run_id=f"r{i}")
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            wall = time.perf_counter() - t0
            return Op(wall, 0, e0, _epoch_ms(), out, raised=[repr(exc)[:300]])
        wall = time.perf_counter() - t0
        return Op(wall, int(r["docs"]), e0, _epoch_ms(), out, in_bytes=self.in_bytes)

    def gate(self, spark, ops: list[Op]) -> tuple[int, list[str], int]:
        """compare_golden on every operation's output; returns the number
        of failed operations, a line per failure, and the mismatched docs."""
        from text_extraction_spark.pipeline import compare_golden

        golden = spark.read.parquet(os.path.join(self.in_path, "golden.parquet"))
        failed, notes, mismatch_docs = 0, [], 0
        for k, op in enumerate(ops):
            if op.raised:
                failed += 1
                notes.append(f"op {k} raised {op.raised[0]}")
                continue
            try:
                extracted = spark.read.parquet(os.path.join(op.out_path, "extracted"))
                mismatched = compare_golden(extracted, golden).count()
            except Exception as exc:  # noqa: BLE001 — counted as a failed operation
                failed += 1
                notes.append(f"op {k}: gate raised {repr(exc)[:300]}")
                continue
            mismatch_docs += mismatched
            if mismatched or op.items != self.n_docs:
                failed += 1
                notes.append(f"op {k}: {mismatched} golden mismatch docs, {op.items}/{self.n_docs} docs")
        return failed, notes, mismatch_docs

    def attempted(self, ops: list[Op]) -> int:
        return len(ops)

    def layer_metrics(self, log, ops: list[Op], clock) -> dict[str, float]:
        """Per-layer split of the traced calls (median over calls), the
        lineage-table metrics of the last good call, and output size."""
        from layers import dir_bytes, lineage_metrics, pipeline_layers

        per_op = [pipeline_layers(log, op.t0_ms, op.t1_ms, clock) for op in ops]
        out = {f"pipeline.{k}": statistics.median(p[k] for p in per_op) for k in per_op[0]}
        good = [op for op in ops if not op.raised]
        if good:
            out.update({f"pipeline.{k}": v for k, v in lineage_metrics(good[-1].out_path).items()})
            out["pipeline.out_bytes_per_in_byte"] = statistics.median(
                dir_bytes(op.out_path) / op.in_bytes for op in good
            )
        return out

    def engine_rows(self) -> tuple[list[dict], list[str]]:
        """The fixed in-process engine sample: the first media rows and
        text spans of this run's own input."""
        import pyarrow.parquet as pq
        from layers import MEDIA_SAMPLE, TEXT_SAMPLE, media_sample

        media = media_sample(os.path.join(self.in_path, "media.parquet"), MEDIA_SAMPLE)
        docs = pq.read_table(os.path.join(self.in_path, "documents.parquet"), columns=["spans"])
        texts = [
            s["text"]
            for spans in docs.column("spans").to_pylist()
            for s in spans
            if s["kind"] == "text"
        ][:TEXT_SAMPLE]
        return media, texts


# The query list, taken from bench.HEADLINE: a 3-way shuffle join, a
# window, MinHash dedup, the ANN Arrow kernels (d06, d15, d40), the
# inverted index and the read-only OCR extraction query x09. A pass over
# all 35 HEADLINE queries does not fit this benchmark's time budget on
# a 4-core host.
QUERIES = (
    "q04_shuffle_join_3way",
    "q14_window_rank",
    "d02_dedup_minhash_lsh",
    "d06_ann_lsh_bucketed",
    "d15_ann_ivf",
    "d40_cluster_assign",
    "d69_inverted_index",
    "x09_table_cells_typed",
)

# The repository's sf0.01 test tables, copied verbatim (TESTDATA.md:
# the fixture its DuckDB-oracle correctness tests read). The queries
# only read them; the seed permutes the query order.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def query_module(name: str) -> str:
    from text_extraction_spark import dataops, extraction_queries, relational

    for mod in (relational, dataops, extraction_queries):
        if name in mod.QUERIES:
            return mod.__name__.rsplit(".", 1)[1]
    raise KeyError(name)


class QueryPlane:
    """One pass over the query list per operation, each query through
    the noop sink, in a seed-drawn order."""

    name = "query-plane"

    def __init__(self, queries=QUERIES):
        self.queries = tuple(queries)
        self.sf = SF_DIR
        self.size = f"{len(self.queries)} queries on sf0.01"

    def prepare(self, cache: str, seed: int, workers: int) -> None:
        self.rng = inputs.seeded_rng(seed, 11)

    def _fns(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        return {n: qs[n] for n in self.queries}

    def _pass(self, spark, order) -> Op:
        fns = self._fns()
        walls: dict[str, tuple[float, float, float]] = {}
        raised: list[str] = []
        e0, t0 = _epoch_ms(), time.perf_counter()
        for n in order:
            q0, qt = _epoch_ms(), time.perf_counter()
            try:
                fns[n](spark, self.sf).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted as a failed query
                raised.append(f"{n}: {repr(exc)[:300]}")
            walls[n] = (time.perf_counter() - qt, q0, _epoch_ms())
        wall = time.perf_counter() - t0
        return Op(wall, len(order), e0, _epoch_ms(), query_walls=walls, raised=raised)

    def warmup(self, spark, work: str) -> None:
        self._pass(spark, self.queries)

    def op(self, spark, work: str, i: int) -> Op:
        return self._pass(spark, list(self.rng.permutation(self.queries)))

    def gate(self, spark, ops: list[Op]) -> tuple[int, list[str], int]:
        """oracle_check.compare for every query with an oracle; a query
        fails in every pass where it raised, and in every pass if its
        output does not match its oracle."""
        import __spark_entry__ as entry
        from text_extraction_spark import oracle_check

        oracles = entry.oracle_sql()
        fns = self._fns()
        con = oracle_check.duckdb_con(self.sf)
        bad: dict[str, str] = {}
        for n in self.queries:
            if n not in oracles:
                continue
            try:
                r = oracle_check.compare(fns[n](spark, self.sf), con, oracles[n])
            except Exception as exc:  # noqa: BLE001
                bad[n] = repr(exc)[:300]
                continue
            if not (r["schema_match"] and r["count_match"] and r["values_match"]):
                bad[n] = str(r)[:600]
        con.close()
        failed, notes = 0, [f"{n}: oracle mismatch {v}" for n, v in bad.items()]
        for op in ops:
            raised = {r.split(":", 1)[0] for r in op.raised}
            failed += len(raised | set(bad))
            notes.extend(op.raised)
        return failed, notes, 0

    def attempted(self, ops: list[Op]) -> int:
        return sum(op.items for op in ops)

    def layer_metrics(self, log, ops: list[Op], clock) -> dict[str, float]:
        """Wall time and shuffle bytes of each query, median over passes."""
        from layers import query_shuffle_bytes

        out = {}
        for q in self.queries:
            walls = [op.query_walls[q] for op in ops]
            p = f"{query_module(q)}.{q}"
            out[f"{p}.wall_s"] = statistics.median(w for w, _, _ in walls)
            out[f"{p}.shuffle_bytes"] = statistics.median(
                query_shuffle_bytes(log, a, b) for _, a, b in walls
            )
        return out

    def engine_rows(self) -> tuple[list[dict], list[str]]:
        """The engine sample of this workload's own rows: the media the
        x09 query reads, and the documents table's text."""
        import pyarrow.parquet as pq
        from layers import MEDIA_SAMPLE, TEXT_SAMPLE, media_sample
        from text_extraction_spark.extraction_queries import corpus_dir

        media = media_sample(os.path.join(corpus_dir(), "media.parquet"), MEDIA_SAMPLE)
        texts = pq.read_table(os.path.join(self.sf, "documents.parquet"), columns=["text"])
        return media, texts.column("text").to_pylist()[:TEXT_SAMPLE]


def make(name: str, smoke: bool):
    """The named workload at benchmark size, or at smoke size."""
    if name == "extract-mixed":
        return Extraction(name, text_only=False, n_chunks=1 if smoke else 6)
    if name == "extract-text":
        return Extraction(name, text_only=True, n_chunks=1 if smoke else 16)
    if name == "query-plane":
        if smoke:
            return QueryPlane(
                ("q04_shuffle_join_3way", "d69_inverted_index", "x09_table_cells_typed")
            )
        return QueryPlane()
    raise KeyError(name)


WORKLOADS = ("extract-mixed", "extract-text", "query-plane")
