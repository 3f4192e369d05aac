"""Scale-smoke the production dedup CLIs at ~10^6 rows (VERDICT r4 item 7).

The derived-geometry seam (`emb_lsh_geometry` / `simhash_band_bits` /
`kmeans_k`) is e2e-tested at fixture scale but the cheapest evidence the
100 TB story holds off the registry path is to *exercise* it well above
fixtures: synthesize a 10^6-row text corpus and a 2*10^5-row embedding
corpus with a known planted duplicate fraction, run
``--dedup-texts`` / ``--dedup-embeddings`` / ``--dedup-semantic``
end to end, and report wall, derived geometry, candidate/pair counts and
the drop reports.  Pass criteria printed per mode: candidates ~ linear in
n (pairs within 3x of planted), drop report empty or justified, cc
converged.

Usage: python bench/dedup_scale_smoke.py [--n-texts 1000000]
       [--n-vecs 200000] [--workdir /tmp/dedup_smoke]
Prints one JSON line per mode and a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pyspark.sql.functions as F  # noqa: E402

DUP_EVERY = 10   # every 10th base row gets one near-duplicate


def gen_texts(spark, path: str, n: int) -> int:
    """n base docs of ~30 deterministic words; every DUP_EVERY-th doc gets
    a near-dup copy (one word changed -> simhash hamming <= 3 w.h.p. is
    NOT guaranteed, so the planted dup is an EXACT text copy: hamming 0,
    always recalled by any band geometry -- the smoke measures the
    pipeline, not the similarity statistics)."""
    # words are md5-derived per (doc, slot): no modular period, so no
    # accidental exact-dup classes beyond the planted ones, and simhash
    # signatures are ~uniform (random band collisions get verified away)
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit(f"_{j}"))), 1, 8)
            for j in range(30)]).alias("text"))
    dups = (base.filter(F.col("doc_id") % DUP_EVERY == 0)
            .select((F.col("doc_id") + n).alias("doc_id"), "text"))
    out = base.unionByName(dups)
    out.write.mode("overwrite").parquet(path)
    return out.count()


def gen_vecs(spark, path: str, n: int) -> int:
    """n base 64-dim vectors, hash-derived SIGNED components (centered
    data: random pairs sit near cosine 0, so sign-LSH band collisions
    track similarity, as they would for real embeddings); every
    DUP_EVERY-th vector gets an exact copy (cosine 1 >= any threshold)."""
    vec = F.expr(
        "transform(sequence(0, 63), i -> "
        "CAST(pmod(xxhash64(vec_id, i), 997) / 997.0 - 0.5 AS FLOAT))")
    base = (spark.range(n).select(F.col("id").alias("vec_id"))
            .select("vec_id", vec.alias("embedding")))
    dups = (base.filter(F.col("vec_id") % DUP_EVERY == 0)
            .select((F.col("vec_id") + n).alias("vec_id"), "embedding"))
    out = base.unionByName(dups)
    out.write.mode("overwrite").parquet(path)
    return out.count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-texts", type=int, default=1_000_000)
    ap.add_argument("--n-vecs", type=int, default=200_000)
    ap.add_argument("--workdir", default="/tmp/dedup_smoke")
    args = ap.parse_args()

    from pdf_extractor_spark.corpus import (dedup_embeddings_run,
                                            dedup_semantic_run,
                                            dedup_texts_run)
    from pdf_extractor_spark.session import get_spark
    spark = get_spark("dedup_scale_smoke")
    wd = args.workdir
    results = {}

    t0 = time.perf_counter()
    n_rows = gen_texts(spark, f"{wd}/texts", args.n_texts)
    gen_s = round(time.perf_counter() - t0, 1)
    planted = args.n_texts // DUP_EVERY
    m = dedup_texts_run(spark, f"{wd}/texts", f"{wd}/texts_out")
    m["gen_s"] = gen_s
    m["rows"] = n_rows
    m["planted_dups"] = planted
    m["pass"] = (m["non_canonical"] >= planted
                 and m["pairs"] <= 3 * planted
                 and m["cc_converged"])
    print(json.dumps(m))
    results["texts"] = m

    t0 = time.perf_counter()
    n_rows = gen_vecs(spark, f"{wd}/vecs", args.n_vecs)
    gen_s = round(time.perf_counter() - t0, 1)
    planted = args.n_vecs // DUP_EVERY
    m = dedup_embeddings_run(spark, f"{wd}/vecs", f"{wd}/vecs_out")
    m["gen_s"] = gen_s
    m["rows"] = n_rows
    m["planted_dups"] = planted
    m["pass"] = (m["non_canonical"] >= planted and m["cc_converged"])
    print(json.dumps(m))
    results["embeddings"] = m

    m = dedup_semantic_run(spark, f"{wd}/vecs", f"{wd}/sem_out")
    m["rows"] = n_rows
    m["planted_dups"] = planted
    m["pass"] = (m["non_canonical"] >= planted and m["cc_converged"])
    print(json.dumps(m))
    results["semantic"] = m

    ok = all(r["pass"] for r in results.values())
    print(json.dumps({"smoke": "dedup_scale", "pass": ok,
                      "modes": {k: r["pass"] for k, r in results.items()}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
