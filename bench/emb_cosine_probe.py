"""One-window attribution probe for the r3 `dedup_embedding_cosine`
regression (2.61 -> 4.21 s, VERDICT r3 item 3): time three variants of
the candidate-generation stage interleaved in ONE host window.

  capped    — current production path (_bucket_capped; since r4 the
              single-exchange windowed form)
  uncapped  — the r2 shape (straight self-join, no occupancy pass)
  r3_anti   — the r3 shape (separate occupancy aggregate + broadcast
              anti-join): the regression under attribution
  folded    — the windowed single-exchange form spelled out locally
              (sanity twin of `capped` after the r4 fix)

Interleaved A,B,C x --repeat rounds; median per variant printed as one
JSON line.  Run on an otherwise-idle box.

Usage: python bench/emb_cosine_probe.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _base(spark, sf_dir):
    from pdf_extractor_spark.corpus import (PPB_DEDUP, _emb_signature,
                                            _persist, _with_perturbed_copies)
    base = _with_perturbed_copies(spark, sf_dir, every=4, dims=8, scale=0.9)
    return _persist(_emb_signature(base, PPB_DEDUP))


def _verify(b, cand):
    import pyspark.sql.functions as F

    from pdf_extractor_spark.corpus import _emb_verify
    return (_emb_verify(cand, b)
            .filter(F.col("cos_sim") >= 0.98)
            .select("vec_a", "vec_b", "cos_sim"))


def run_capped(spark, sf_dir):
    from pdf_extractor_spark.corpus import emb_band_candidates
    b = _base(spark, sf_dir)
    cand, _ = emb_band_candidates(b)
    return _verify(b, cand).count()


def run_uncapped(spark, sf_dir):
    import pyspark.sql.functions as F
    b = _base(spark, sf_dir)
    ex = b.select("vec_id", F.posexplode("bands").alias("band_idx", "bucket"))
    a, y = ex.alias("a"), ex.alias("y")
    cand = (a.join(y, (F.col("a.band_idx") == F.col("y.band_idx"))
                   & (F.col("a.bucket") == F.col("y.bucket"))
                   & (F.col("a.vec_id") < F.col("y.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b"))
            .distinct())
    return _verify(b, cand).count()


def run_folded(spark, sf_dir):
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from pdf_extractor_spark.corpus import EMB_BUCKET_CAP, _persist
    b = _base(spark, sf_dir)
    ex = b.select("vec_id", F.posexplode("bands").alias("band_idx", "bucket"))
    sized = ex.withColumn(
        "bsz", F.count("*").over(W.partitionBy("band_idx", "bucket")))
    sized = _persist(sized, fresh=False)
    kept = sized.filter(F.col("bsz") <= EMB_BUCKET_CAP)
    a, y = kept.alias("a"), kept.alias("y")
    cand = (a.join(y, (F.col("a.band_idx") == F.col("y.band_idx"))
                   & (F.col("a.bucket") == F.col("y.bucket"))
                   & (F.col("a.vec_id") < F.col("y.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b"))
            .distinct())
    return _verify(b, cand).count()


def run_r3_anti(spark, sf_dir):
    import pyspark.sql.functions as F

    from pdf_extractor_spark.corpus import EMB_BUCKET_CAP
    b = _base(spark, sf_dir)
    ex = b.select("vec_id", F.posexplode("bands").alias("band_idx", "bucket"))
    sizes = ex.groupBy("band_idx", "bucket").agg(F.count("*").alias("bsz"))
    dropped = sizes.filter(F.col("bsz") > EMB_BUCKET_CAP)
    kept = ex.join(F.broadcast(dropped.select("band_idx", "bucket")),
                   ["band_idx", "bucket"], "left_anti")
    a, y = kept.alias("a"), kept.alias("y")
    cand = (a.join(y, (F.col("a.band_idx") == F.col("y.band_idx"))
                   & (F.col("a.bucket") == F.col("y.bucket"))
                   & (F.col("a.vec_id") < F.col("y.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b"))
            .distinct())
    return _verify(b, cand).count()


VARIANTS = {"capped": run_capped, "uncapped": run_uncapped,
            "r3_anti": run_r3_anti, "folded": run_folded}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args(argv)

    from pdf_extractor_spark.session import get_spark
    spark = get_spark("emb_cosine_probe")
    times: dict[str, list] = {k: [] for k in VARIANTS}
    counts = {}
    # one untimed warm-up so codegen/python-worker startup is excluded
    run_capped(spark, args.sf)
    for _ in range(args.repeat):
        for name, fn in VARIANTS.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            counts[name] = fn(spark, args.sf)
            times[name].append(round(time.perf_counter() - t0, 3))
    assert len(set(counts.values())) == 1, counts  # identical results
    print(json.dumps({
        "sf": args.sf, "pairs": counts["capped"],
        "median_s": {k: statistics.median(v) for k, v in times.items()},
        "all_s": times,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
