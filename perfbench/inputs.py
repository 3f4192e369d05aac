"""Seeded benchmark inputs, generated outside any timed region and cached
on disk by (workload, seed, size).

The program under test only ever sees the files written here.  Two input
families exist:

* documents: ``(doc_id, spans)`` parquet in the extraction job's input
  schema, plus the expected output spans of every doc computed with the
  driver-side ``core.extract.extract_document`` (the exact-parity
  reference the Spark output is compared against once per run);
* vectors: ``(vec_id, embedding)`` parquet of hash-derived signed 64-dim
  vectors with a planted exact-duplicate fraction, the
  ``bench/dedup_scale_smoke.gen_vecs`` shape with the seed mixed into the
  hash.

A cache entry is complete once its ``meta.json`` exists; it is written
last, so an interrupted generation is redone, never half-read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])
DOC_FILES = 8        # input parquet files per corpus (parallel scan)
REPORT_EVERY = 3     # every third doc is a multi-page report
DUP_EVERY = 10       # every tenth base vector gets one exact copy
EMB_DIM = 64


def _code_key(root: str) -> str:
    """Hash of the generator and the reference extractor: expected spans
    are cached beside the inputs, so a change to either invalidates them."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "pdf_extractor_spark")
    for rel in sorted(["gen.py"] + [os.path.join("core", f) for f in
                                    os.listdir(os.path.join(pkg, "core"))]):
        if rel.endswith(".py"):
            with open(os.path.join(pkg, rel), "rb") as f:
                h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def _entry(cache: str, name: str) -> tuple[str, dict | None]:
    path = os.path.join(cache, name)
    meta = os.path.join(path, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path, None


def _finish(path: str, meta: dict) -> dict:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _docs_chunk(args: tuple) -> tuple[int, int, int]:
    """Generate docs [lo, hi) into one input file and one expected file.
    Returns (docs, corrupt docs, expected output spans)."""
    idx, lo, hi, seed, path = args
    from pdf_extractor_spark.core.extract import extract_document
    from pdf_extractor_spark.gen import gen_doc
    rows = []
    for i in range(lo, hi):
        doc_id = f"doc-{i:07d}"
        if i % REPORT_EVERY == 0:
            rows.append(gen_doc(doc_id, seed=seed, archetype="report",
                                jumbo_rate=1.0))
        else:
            rows.append(gen_doc(doc_id, seed=seed))
    ids = [r["doc_id"] for r in rows]
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string()),
                             "spans": pa.array([r["spans"] for r in rows],
                                               pa.list_(SPAN_T))}),
                   os.path.join(path, "docs", f"part-{idx:03d}.parquet"))
    expected, corrupt = [], 0
    for r in rows:
        out, failures = extract_document(r["spans"])
        expected.append(out)
        corrupt += failures
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.string()),
                             "spans": pa.array(expected, pa.list_(SPAN_T))}),
                   os.path.join(path, "expected", f"part-{idx:03d}.parquet"))
    return len(rows), corrupt, sum(len(e) for e in expected)


def documents(cache: str, root: str, seed: int, n_docs: int,
              procs: int) -> tuple[str, dict]:
    """A documents corpus of ``n_docs`` rows: every ``REPORT_EVERY``-th doc
    a 20-30 page report, the rest the default archetype mix.  Returns
    (entry dir, meta); inputs are in ``docs/``, expected output spans in
    ``expected/``."""
    path, meta = _entry(cache, f"docs-reports-s{seed}-n{n_docs}-{_code_key(root)}")
    if meta is not None:
        return path, meta
    os.makedirs(os.path.join(path, "docs"))
    os.makedirs(os.path.join(path, "expected"))
    per = -(-n_docs // DOC_FILES)
    chunks = [(c, c * per, min((c + 1) * per, n_docs), seed, path)
              for c in range(DOC_FILES) if c * per < n_docs]
    with ProcessPoolExecutor(max_workers=min(procs, len(chunks)),
                             mp_context=get_context("spawn")) as ex:
        parts = list(ex.map(_docs_chunk, chunks))
    return path, _finish(path, {
        "docs": sum(p[0] for p in parts),
        "corrupt": sum(p[1] for p in parts),
        "spans": sum(p[2] for p in parts)})


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def vectors(cache: str, seed: int, n_base: int) -> tuple[str, dict]:
    """``n_base`` hash-derived signed 64-dim vectors plus one exact copy
    (id + n_base) of every ``DUP_EVERY``-th: centred components, so random
    pairs sit near cosine 0 and only the planted copies pass a 0.98
    threshold.  Returns (entry dir, meta); the parquet is in ``vecs/``."""
    path, meta = _entry(cache, f"vecs-s{seed}-n{n_base}")
    if meta is not None:
        return path, meta
    with np.errstate(over="ignore"):
        ids = np.arange(n_base, dtype=np.uint64)[:, None]
        dims = np.arange(EMB_DIM, dtype=np.uint64)[None, :]
        h = _mix(_mix(np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15) ^ ids)
                 + dims * np.uint64(0xD6E8FEB86659FD93))
    base = ((h % np.uint64(997)).astype(np.float64) / 997.0 - 0.5).astype(np.float32)
    dup = np.arange(0, n_base, DUP_EVERY)
    vec_id = np.concatenate([np.arange(n_base), dup + n_base]).astype(np.int64)
    emb = np.concatenate([base, base[dup]])
    os.makedirs(os.path.join(path, "vecs"))
    flat = pa.array(emb.reshape(-1), pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_id),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(emb) * EMB_DIM + 1, EMB_DIM,
                               dtype=np.int32)), flat)}),
        os.path.join(path, "vecs", "part-000.parquet"))
    return path, _finish(path, {"vectors": int(len(vec_id)),
                                "planted": int(len(dup))})


def planted_pairs(n_base: int) -> set[tuple[int, int]]:
    return {(i, i + n_base) for i in range(0, n_base, DUP_EVERY)}
