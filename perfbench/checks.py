"""Output checks.  Each returns a list of problems; an empty list is a
pass.  A failing check marks its pass as failed, it never aborts the run.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq


def extraction_totals(m: dict, meta: dict) -> list[str]:
    """Per-pass check on the lineage totals ``run_extraction`` returns."""
    want = {"docs_total_committed": meta["docs"],
            "parse_failures": meta["corrupt"],
            "spans_total": meta["spans"],
            "validation_violations": 0}
    return [f"{k}={m.get(k)} want {v}" for k, v in want.items() if m.get(k) != v]


def _spans(files: list[str]):
    import pyarrow as pa
    return pa.concat_tables(pq.read_table(f, columns=["doc_id", "spans"])
                            for f in files).sort_by("doc_id")


def span_sequences(extracted_dir: str, expected_dir: str) -> list[str]:
    """Exact span-sequence equality ``(kind, text, media_ref, offset)`` of
    every written doc against the driver-side ``extract_document``,
    compared column by column over the sorted, flattened span arrays."""
    import pyarrow.compute as pc
    got = _spans(glob.glob(os.path.join(extracted_dir, "*", "*.parquet")))
    want = _spans(glob.glob(os.path.join(expected_dir, "*.parquet")))
    if not got["doc_id"].equals(want["doc_id"]):
        return [f"doc sets differ: {got.num_rows} written, "
                f"{want.num_rows} expected"]
    g, w = got["spans"].combine_chunks(), want["spans"].combine_chunks()
    if not pc.list_value_length(g).equals(pc.list_value_length(w)):
        return ["span counts differ from extract_document"]
    gf, wf = pc.list_flatten(g), pc.list_flatten(w)
    bad = [f for f in ("kind", "text", "media_ref", "offset")
           if not pc.struct_field(gf, f).cast(pc.struct_field(wf, f).type)
           .equals(pc.struct_field(wf, f))]
    return [f"span fields {bad} differ from extract_document"] if bad else []


def dedup_totals(m: dict, planted: int) -> list[str]:
    """Per-pass check on the metrics ``dedup_embeddings_run`` returns."""
    want = {"pairs": planted, "non_canonical": planted,
            "dropped_hot_buckets": 0, "cc_converged": True}
    return [f"{k}={m.get(k)} want {v}" for k, v in want.items() if m.get(k) != v]


def pair_set(pairs_dir: str, planted: set[tuple[int, int]]) -> list[str]:
    """The written pairs are exactly the planted duplicate pairs."""
    t = pq.read_table(pairs_dir, columns=["vec_a", "vec_b"])
    got = list(zip(t.column("vec_a").to_pylist(), t.column("vec_b").to_pylist()))
    if len(got) == len(set(got)) and set(got) == planted:
        return []
    return [f"pairs differ from planted: {len(set(got) - planted)} extra, "
            f"{len(planted - set(got))} missing, {len(got) - len(set(got))} repeated"]
