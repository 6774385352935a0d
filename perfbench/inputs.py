"""Seeded benchmark inputs, cached on disk.

Extraction corpora are built from ``corpus.gen_doc`` / ``corpus.gen_media``
over a window of document indices that the seed picks. The window is
made of whole chunks of ``CHUNK_DOCS`` consecutive indices. Each chunk
is generated once (documents, media and the goldens written through
``reference_impl.extract_doc``) and then reused by every seed whose
window covers it. The text-only variant of a chunk is the same
documents with their media spans removed, and an empty media table.

Everything here runs before any timer starts.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np

CHUNK_DOCS = 250
# the seed picks the window start among this many chunk positions
WINDOW_POSITIONS = 8

DOC_ROW_GROUP = 2000  # as corpus.write_corpus_parquet writes them
MEDIA_ROW_GROUP = 256

_CACHE_VERSION = "v1"


def _atomic_dir(final: str, build) -> str:
    """Run build(tmp_dir), then rename tmp_dir to final (first writer wins)."""
    if os.path.isdir(final):
        return final
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".build-{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        build(tmp)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# ----------------------------------------------------------------- corpora


def _schemas():
    import pyarrow as pa

    in_span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    out_span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("order", pa.int32())]
    )
    media = pa.schema(
        [("media_ref", pa.string()), ("width", pa.int32()), ("height", pa.int32()),
         ("fmt", pa.string()), ("data", pa.binary())]
    )
    return in_span, out_span, media


def _build_chunk(args: tuple[int, str]) -> None:
    """Generate chunk `idx` (documents, media, goldens, text-only twin)."""
    idx, out = args
    import pyarrow as pa
    import pyarrow.parquet as pq
    from text_extraction_spark.corpus import gen_doc, gen_media
    from text_extraction_spark.reference_impl import extract_doc

    in_span, out_span, media_schema = _schemas()
    lo = idx * CHUNK_DOCS
    docs = [gen_doc(i) for i in range(lo, lo + CHUNK_DOCS)]
    media = [
        gen_media(s["media_ref"]) for d in docs for s in d.spans if s["kind"] == "media"
    ]
    lookup = {m.media_ref: m for m in media}
    ids = pa.array([d.doc_id for d in docs], pa.string())
    text_spans = [[s for s in d.spans if s["kind"] == "text"] for d in docs]

    def build(tmp: str) -> None:
        pq.write_table(
            pa.table({"doc_id": ids, "spans": pa.array([d.spans for d in docs], pa.list_(in_span))}),
            os.path.join(tmp, "documents.parquet"),
        )
        pq.write_table(
            pa.table(
                [
                    pa.array([m.media_ref for m in media], pa.string()),
                    pa.array([m.width for m in media], pa.int32()),
                    pa.array([m.height for m in media], pa.int32()),
                    pa.array([m.fmt for m in media], pa.string()),
                    pa.array([m.data for m in media], pa.binary()),
                ],
                schema=media_schema,
            ),
            os.path.join(tmp, "media.parquet"),
        )
        gold = [extract_doc(d.spans, lookup) for d in docs]
        pq.write_table(
            pa.table({"doc_id": ids, "spans": pa.array(gold, pa.list_(out_span))}),
            os.path.join(tmp, "golden.parquet"),
        )
        pq.write_table(
            pa.table({"doc_id": ids, "spans": pa.array(text_spans, pa.list_(in_span))}),
            os.path.join(tmp, "text_documents.parquet"),
        )
        tgold = [extract_doc(s, {}) for s in text_spans]
        pq.write_table(
            pa.table({"doc_id": ids, "spans": pa.array(tgold, pa.list_(out_span))}),
            os.path.join(tmp, "text_golden.parquet"),
        )

    _atomic_dir(out, build)


def _chunk_dir(cache: str, idx: int) -> str:
    return os.path.join(cache, f"chunks_{_CACHE_VERSION}", f"c{idx:05d}")


def ensure_chunks(cache: str, idxs: list[int], workers: int) -> list[str]:
    """Generate every missing chunk (in parallel), return their dirs in order."""
    dirs = [_chunk_dir(cache, i) for i in idxs]
    missing = [(i, d) for i, d in zip(idxs, dirs) if not os.path.isdir(d)]
    if len(missing) > 1 and workers > 1:
        _build_in_processes(missing, workers)
    else:
        for m in missing:
            _build_chunk(m)
    return dirs


def _build_in_processes(jobs: list[tuple[int, str]], workers: int) -> None:
    """Build each (idx, dir) chunk in its own ``python3 inputs.py`` process,
    at most `workers` at a time. Every process has ended when this
    returns. (A multiprocessing pool would leave its resource tracker
    process running past the benchmark's exit.)"""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    todo, running = list(jobs), []
    try:
        while todo or running:
            while todo and len(running) < workers:
                idx, out = todo.pop(0)
                cmd = [sys.executable, os.path.abspath(__file__), str(idx), out]
                running.append(subprocess.Popen(cmd, env=env))
            p = running.pop(0)
            if p.wait():
                raise RuntimeError(f"chunk generation failed: {p.args}")
    finally:
        for p in running:
            p.kill()
            p.wait()


def seeded_rng(seed: int, salt: int) -> np.random.Generator:
    """A generator for one use (`salt`) of the run seed; any int is a seed."""
    return np.random.default_rng([seed % 2**63, salt])


def window_chunks(seed: int, n_chunks: int) -> list[int]:
    """The seed's window: n_chunks consecutive chunk indices."""
    start = int(seeded_rng(seed, 0).integers(0, WINDOW_POSITIONS))
    return list(range(start, start + n_chunks))


def extraction_input(
    cache: str, text_only: bool, chunk_idxs: list[int], workers: int
) -> str:
    """Assemble (and cache) the input dir for one extraction workload:
    documents.parquet, media.parquet and golden.parquet, written with the
    row-group sizes corpus.write_corpus_parquet uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    kind = "text" if text_only else "mixed"
    name = f"{kind}_{_CACHE_VERSION}_{chunk_idxs[0]}_{len(chunk_idxs)}x{CHUNK_DOCS}"
    final = os.path.join(cache, "inputs", name)
    if os.path.isdir(final):
        return final
    dirs = ensure_chunks(cache, chunk_idxs, workers)
    docs_f, gold_f = (
        ("text_documents.parquet", "text_golden.parquet")
        if text_only
        else ("documents.parquet", "golden.parquet")
    )

    def cat(fname: str) -> "pa.Table":
        return pa.concat_tables(pq.read_table(os.path.join(d, fname)) for d in dirs)

    def build(tmp: str) -> None:
        pq.write_table(
            cat(docs_f), os.path.join(tmp, "documents.parquet"), row_group_size=DOC_ROW_GROUP
        )
        media = _schemas()[2].empty_table() if text_only else cat("media.parquet")
        pq.write_table(
            media, os.path.join(tmp, "media.parquet"), row_group_size=MEDIA_ROW_GROUP
        )
        pq.write_table(cat(gold_f), os.path.join(tmp, "golden.parquet"))

    return _atomic_dir(final, build)


def input_bytes(in_path: str) -> int:
    """Bytes of the parquet the program reads (documents + media)."""
    return sum(
        os.path.getsize(os.path.join(in_path, f))
        for f in ("documents.parquet", "media.parquet")
    )


if __name__ == "__main__":
    import sys

    _build_chunk((int(sys.argv[1]), sys.argv[2]))
