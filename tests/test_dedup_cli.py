"""Production derived-geometry dedup entry point (``cli.py
--dedup-embeddings``, VERDICT r3 item 4): the input row count drives
``emb_lsh_geometry`` end to end, and the dup decisions match a
brute-force all-pairs cosine oracle on a small slice."""

import json
import os
import random
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.corpus import (
    COS, PPB_DEDUP, QUANT_S, emb_lsh_geometry)
from sig_reference import DOT_S

SF_DIR = "/root/testdata/sf0.001"


def test_geometry_derived_from_million_row_footer(spark, tmp_path):
    """A 10^6-row input must push the derived geometry past the sf
    default: footer count -> ppb 14 (16384 buckets/band), without reading
    any column data (constant arrays keep the file tiny; the count is a
    metadata scan)."""
    p = str(tmp_path / "emb1m")
    (spark.range(10**6).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> CAST(0.01 * i AS FLOAT))")
        .alias("embedding"))
     .write.parquet(p))
    n = spark.read.parquet(p).count()
    assert n == 10**6
    ppb = emb_lsh_geometry(n)
    assert ppb == 14
    assert ppb > PPB_DEDUP


def _engineered_input(spark, path: str) -> None:
    """sf0.001 embeddings ∪ perturbed copies (first 8 of 64 dims x 0.9,
    the registry fixture construction whose >=0.98 pairs the recall
    property test already proves the banding recalls losslessly)."""
    e = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
         .select("vec_id",
                 F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                 .alias("embedding")))
    dup = (e.filter(F.col("vec_id") % 4 == 0)
           .select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.expr(
                       "transform(embedding, (x, i) -> CASE WHEN i < 8 "
                       "THEN (floor(x * 10000 * 0.9) + 0.5) / 10000.0 "
                       "ELSE x END)").alias("embedding")))
    e.unionByName(dup).write.mode("overwrite").parquet(path)


def _fixpoint_labels(pairs: set) -> dict:
    nodes = {v for p in pairs for v in p}
    label = {v: v for v in nodes}
    nbrs = {v: set() for v in nodes}
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    hops = 0
    changed = True
    while changed:
        changed = False
        new = dict(label)
        for v in nodes:
            m = min([label[v]] + [label[u] for u in nbrs[v]])
            if m < new[v]:
                new[v] = m
                changed = True
        label = new
        hops += changed
    return label, hops


def test_cli_decisions_match_bruteforce(spark, tmp_path, capsys):
    inp = str(tmp_path / "emb_in")
    out = str(tmp_path / "dedup_out")
    _engineered_input(spark, inp)

    from pdf_extractor_spark.cli import main
    rc = main(["--dedup-embeddings", inp, "--output", out])
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert metrics["mode"] == "dedup_embeddings"
    assert metrics["ppb"] == PPB_DEDUP          # small n -> sf geometry
    assert metrics["dropped_hot_buckets"] == 0  # cap inert on the slice

    # brute-force oracle: all-pairs exact quantized cosine over the SAME
    # input file and quantization
    q = (spark.read.parquet(inp)
         .select("vec_id", F.expr(QUANT_S).alias("qv"))
         .withColumn("nrm", F.expr(
             "aggregate(zip_with(qv, qv, (x, y) -> x * y), "
             "0L, (acc, v) -> acc + v)")))
    a = q.select(F.col("vec_id").alias("vec_a"), F.col("qv").alias("qa"),
                 F.col("nrm").alias("na"))
    y = q.select(F.col("vec_id").alias("vec_b"), F.col("qv").alias("qb"),
                 F.col("nrm").alias("nb"))
    brute = (a.crossJoin(y).filter(F.col("vec_a") < F.col("vec_b"))
             .withColumn("dot", F.expr(DOT_S))
             .withColumn("cos_sim", F.expr(COS))
             .filter(F.col("cos_sim") * 100 >= 98))
    want_pairs = {(r.vec_a, r.vec_b) for r in brute.collect()}
    got_pairs = {(r.vec_a, r.vec_b)
                 for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert want_pairs, "fixture must contain engineered near-dup pairs"
    assert got_pairs == want_pairs
    assert metrics["pairs"] == len(want_pairs)

    # decisions: non-canonical set == fixpoint min-label over brute pairs
    # (guard: the fixture's components must converge within the CLI's 3
    # propagation hops, else raise iterations in both places)
    label, hops = _fixpoint_labels(want_pairs)
    assert hops <= 3, f"fixture diameter {hops} exceeds CLI iterations"
    want_noncanon = {v for v, l in label.items() if l != v}
    dec = spark.read.parquet(f"{out}/decisions").collect()
    got_noncanon = {r.vec_id for r in dec if not r.is_canonical}
    assert got_noncanon == want_noncanon
    assert metrics["non_canonical"] == len(want_noncanon)


class TestDedupTexts:
    """Production simhash path (cli --dedup-texts): the simhash_band_bits
    seam end to end, banded signature equivalence, and decisions vs a
    brute-force hamming oracle."""

    def test_band_array_matches_registry_signature_at_15_bits(self, spark):
        """At bits=15 the 4-band Arrow engine the registry runs must equal
        the 60-bit SQL reference signature's band split bit for bit."""
        from pdf_extractor_spark.corpus import (
            WORDS_S, _neardup_corpus_s, simhash_bands_udf)
        from sig_reference import _simhash_nib_from_text_s
        corpus = (_neardup_corpus_s(spark, SF_DIR)
                  .filter(F.expr(f"size({WORDS_S}) >= 1")))
        rows = (corpus.select(
            "doc_id",
            F.expr(_simhash_nib_from_text_s(60)).alias("sig60"),
            simhash_bands_udf(15)(F.col("text")).alias("bands"))
            .collect())
        assert rows
        for r in rows:
            want = [(r.sig60 >> (15 * k)) & 0x7FFF for k in range(4)]
            assert list(r.bands) == want, r.doc_id

    def test_band_width_derives_from_footer(self, spark, tmp_path):
        """10^6-row footer -> 20-bit bands (> the 15-bit sf default)."""
        from pdf_extractor_spark.corpus import simhash_band_bits
        p = str(tmp_path / "txt1m")
        (spark.range(10**6)
         .select(F.col("id").alias("doc_id"), F.lit("x y z").alias("text"))
         .write.parquet(p))
        assert simhash_band_bits(spark.read.parquet(p).count()) == 20

    def test_wide_bands_double_digest_recall(self, spark, tmp_path, capsys):
        """bits > 32 switches to the doubled word digest (signature wider
        than one md5); planted exact dups must still collide in every
        band and verify at hamming 0."""
        from pdf_extractor_spark.corpus import simhash_bands_udf
        sigs = (spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "wholly different words here")],
            "doc_id long, text string")
            .select("doc_id",
                    simhash_bands_udf(40)(F.col("text")).alias("bands"))
            .collect())
        by_id = {r.doc_id: list(r.bands) for r in sigs}
        assert by_id[1] == by_id[2]
        assert by_id[1] != by_id[3]
        assert all(0 <= b < (1 << 40) for b in by_id[1])

    def test_cli_decisions_match_bruteforce(self, spark, tmp_path, capsys):
        from pdf_extractor_spark.corpus import (WORDS_S, _neardup_corpus_s,
                                                simhash_band_bits)
        from sig_reference import _simhash_bands_from_text_s
        inp = str(tmp_path / "txt_in")
        out = str(tmp_path / "txt_out")
        _neardup_corpus_s(spark, SF_DIR).write.parquet(inp)

        from pdf_extractor_spark.cli import main
        rc = main(["--dedup-texts", inp, "--output", out])
        assert rc == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["mode"] == "dedup_texts"
        assert metrics["band_bits"] == simhash_band_bits(metrics["rows_in"])
        assert metrics["dropped_hot_bands"] == 0

        # every input row is kept or quarantined as word-less
        wordless = (spark.read.parquet(inp)
                    .filter(F.expr(f"NOT size({WORDS_S}) >= 1")).count())
        assert metrics["rejected"] == wordless
        assert metrics["rows_in"] == metrics["kept"] + metrics["rejected"]

        # brute-force oracle: all-pairs hamming over the SAME signature
        sigs = (spark.read.parquet(inp)
                .filter(F.expr(f"size({WORDS_S}) >= 1"))
                .select("doc_id", F.expr(_simhash_bands_from_text_s(
                    metrics["band_bits"])).alias("bands")))
        a = sigs.select(F.col("doc_id").alias("doc_a"),
                        F.col("bands").alias("bands_a"))
        b = sigs.select(F.col("doc_id").alias("doc_b"),
                        F.col("bands").alias("bands_b"))
        ham = F.expr("aggregate(zip_with(bands_a, bands_b, "
                     "(x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)")
        brute = (a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
                 .withColumn("hamming", ham.cast("int"))
                 .filter(F.col("hamming") <= 3))
        want = {(r.doc_a, r.doc_b) for r in brute.collect()}
        got = {(r.doc_a, r.doc_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert want, "fixture must contain engineered near-dup pairs"
        assert got == want
        label, hops = _fixpoint_labels(want)
        assert hops <= 3, f"fixture diameter {hops} exceeds CLI iterations"
        want_noncanon = {v for v, l in label.items() if l != v}
        dec = spark.read.parquet(f"{out}/decisions").collect()
        assert {r.doc_id for r in dec if not r.is_canonical} == want_noncanon
        assert metrics["non_canonical"] == len(want_noncanon)


class TestDedupSemantic:
    """Production SemDeDup path (cli --dedup-semantic, VERDICT r4 item 2):
    the kmeans_k derivation seam end to end, decisions pinned to a
    brute-force exact-cosine oracle, convergence surfaced."""

    def test_k_derives_from_corpus_size(self):
        from pdf_extractor_spark.corpus import (K_IVF, KMEANS_K_MAX,
                                                kmeans_k)
        assert kmeans_k(10**6) == 977          # ceil(1e6/1024)
        assert kmeans_k(10**6) > K_IVF         # past the sf default
        assert kmeans_k(1000) == K_IVF         # fixture floor
        assert kmeans_k(5) == 5                # never more cells than rows
        assert kmeans_k(10**9) == KMEANS_K_MAX  # broadcast ceiling
        assert kmeans_k(0) == K_IVF

    def test_k_derives_from_million_row_footer(self, spark, tmp_path):
        from pdf_extractor_spark.corpus import kmeans_k
        p = str(tmp_path / "emb1m")
        (spark.range(10**6).select(
            F.col("id").alias("vec_id"),
            F.expr("transform(sequence(1, 64), i -> CAST(0.01 AS FLOAT))")
            .alias("embedding"))
         .write.parquet(p))
        assert kmeans_k(spark.read.parquet(p).count()) == 977

    def test_cli_decisions_match_bruteforce(self, spark, tmp_path, capsys):
        """Engineered input: sf0.001 embeddings ∪ EXACT copies of
        vec_id%4==0 (identical qv ⇒ identical centroid cosines ⇒ the
        deterministic tie-break assigns both to the same cell, so every
        dup pair is guaranteed intra-cell).  Produced pairs must be a
        subset of the brute-force >=0.98 oracle (verify is exact) and a
        superset of the planted exact dups; decisions must equal the
        fixpoint min-label over the produced pairs."""
        from pdf_extractor_spark.corpus import kmeans_k
        inp = str(tmp_path / "sem_in")
        out = str(tmp_path / "sem_out")
        e = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
             .select("vec_id", "embedding"))
        dup = (e.filter(F.col("vec_id") % 4 == 0)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       "embedding"))
        e.unionByName(dup).write.parquet(inp)

        from pdf_extractor_spark.cli import main
        # --target-cell-size 64 pushes the derived K past the sf floor
        # at fixture scale (the 10^6-footer test covers the big-n leg)
        rc = main(["--dedup-semantic", inp, "--output", out,
                   "--target-cell-size", "64"])
        assert rc == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["mode"] == "dedup_semantic"
        assert metrics["k"] == kmeans_k(metrics["rows_in"], 64)
        assert metrics["k"] > 8                  # derived, not pinned
        assert metrics["dropped_hot_cells"] == 0
        assert metrics["cc_converged"] is True

        q = (spark.read.parquet(inp)
             .select("vec_id", F.expr(QUANT_S).alias("qv"))
             .withColumn("nrm", F.expr(
                 "aggregate(zip_with(qv, qv, (x, y) -> x * y), "
                 "0L, (acc, v) -> acc + v)")))
        a = q.select(F.col("vec_id").alias("vec_a"),
                     F.col("qv").alias("qa"), F.col("nrm").alias("na"))
        y = q.select(F.col("vec_id").alias("vec_b"),
                     F.col("qv").alias("qb"), F.col("nrm").alias("nb"))
        brute = (a.crossJoin(y).filter(F.col("vec_a") < F.col("vec_b"))
                 .withColumn("dot", F.expr(DOT_S))
                 .withColumn("cos_sim", F.expr(COS))
                 .filter(F.col("cos_sim") >= 0.98))
        want_all = {(r.vec_a, r.vec_b) for r in brute.collect()}
        planted = {(r.vec_id, r.vec_id + 100000)
                   for r in e.filter(F.col("vec_id") % 4 == 0).collect()}
        got = {(r.vec_a, r.vec_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert planted, "fixture must plant exact duplicates"
        assert planted <= got          # same-cell guarantee for exact dups
        assert got <= want_all         # exact verify: no false positives
        assert metrics["pairs"] == len(got)

        label, _hops = _fixpoint_labels(got)
        want_noncanon = {v for v, l in label.items() if l != v}
        dec = spark.read.parquet(f"{out}/decisions").collect()
        assert {r.vec_id for r in dec if not r.is_canonical} == want_noncanon
        assert metrics["non_canonical"] == len(want_noncanon)


def _random_vec(rng):
    return [rng.uniform(-1.0, 1.0) for _ in range(64)]


class TestMalformedRows:
    """Malformed input rows are quarantined under --output/rejected with a
    reason and counted — never a crash, never silently dropped."""

    # vec_ids 10..19 are exact copies of 0..9 (random 64-dim vectors
    # otherwise sit far below cosine 0.98); 100.. are malformed
    PLANTED = {(i, i + 10) for i in range(10)}
    BAD_EMB = [(100, None), (101, None), (102, [0.1] * 63),
               (103, [0.1] * 65), (104, [])]

    @pytest.mark.parametrize("mode, dropped_key", [
        ("--dedup-embeddings", "dropped_hot_buckets"),
        ("--dedup-semantic", "dropped_hot_cells")])
    def test_bad_embeddings_rejected_with_reason(self, spark, tmp_path,
                                                 capsys, mode, dropped_key):
        rng = random.Random(7)
        vecs = [_random_vec(rng) for _ in range(10)]
        rows = [(i, vecs[i % 10]) for i in range(20)] + self.BAD_EMB
        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
         .write.parquet(inp))

        from pdf_extractor_spark.cli import main
        assert main([mode, inp, "--output", out]) == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["rows_in"] == 25
        assert metrics["kept"] == 20
        assert metrics["rejected"] == 5
        assert metrics["rejected_by_reason"] == {"null_embedding": 2,
                                                 "bad_dim": 3}
        assert metrics[dropped_key] == 0
        rejected = {(r.vec_id, r.reason)
                    for r in spark.read.parquet(f"{out}/rejected").collect()}
        assert rejected == {(100, "null_embedding"), (101, "null_embedding"),
                            (102, "bad_dim"), (103, "bad_dim"),
                            (104, "bad_dim")}
        got = {(r.vec_a, r.vec_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert got == self.PLANTED
        assert metrics["pairs"] == metrics["non_canonical"] == 10

    # one bad element in a copy of a good vector, planted `count` times
    # at different positions; unquarantined, each copy would pair with
    # its original (NaN quantizes to 0) or break the run
    @pytest.mark.parametrize("value, count", [
        (None, 1), (float("nan"), 2), (float("inf"), 3)])
    def test_bad_elements_rejected_as_bad_value(self, spark, tmp_path,
                                                capsys, value, count):
        rng = random.Random(7)
        vecs = [_random_vec(rng) for _ in range(10)]
        rows = [(i, vecs[i % 10]) for i in range(20)]
        for k in range(count):
            v = list(vecs[k])
            v[17 * k] = -value if value is not None and k % 2 else value
            rows.append((200 + k, v))
        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
         .write.parquet(inp))

        from pdf_extractor_spark.cli import main
        assert main(["--dedup-embeddings", inp, "--output", out]) == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (metrics["rows_in"], metrics["kept"], metrics["rejected"]) \
            == (20 + count, 20, count)
        assert metrics["rejected_by_reason"] == {"bad_value": count}
        rejected = {(r.vec_id, r.reason)
                    for r in spark.read.parquet(f"{out}/rejected").collect()}
        assert rejected == {(200 + k, "bad_value") for k in range(count)}
        got = {(r.vec_a, r.vec_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert got == self.PLANTED

    # a finite element at or past EMB_ABS_MAX (37 000) would wrap the int64
    # dots; 36 999 in all 64 dims still fits, so two such copies pair
    @pytest.mark.parametrize("mode", ["--dedup-embeddings",
                                      "--dedup-semantic"])
    def test_large_elements_rejected_as_bad_range(self, spark, tmp_path,
                                                  capsys, mode):
        rng = random.Random(7)
        vecs = [_random_vec(rng) for _ in range(10)]
        rows = [(i, vecs[i % 10]) for i in range(20)]
        rows += [(300, [36999.0] * 64), (301, [36999.0] * 64)]
        for vec_id, bad in [(400, {9: 37000.0}), (401, {9: -1e15}),
                            (402, {3: float("inf"), 4: 1e15})]:
            v = list(vecs[vec_id - 400])
            for pos, x in bad.items():
                v[pos] = x
            rows.append((vec_id, v))
        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        (spark.createDataFrame(rows, "vec_id long, embedding array<double>")
         .write.parquet(inp))

        from pdf_extractor_spark.cli import main
        assert main([mode, inp, "--output", out]) == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (metrics["rows_in"], metrics["kept"], metrics["rejected"]) \
            == (25, 22, 3)
        assert metrics["rejected_by_reason"] == {"bad_range": 2,
                                                 "bad_value": 1}
        rejected = {(r.vec_id, r.reason)
                    for r in spark.read.parquet(f"{out}/rejected").collect()}
        assert rejected == {(400, "bad_range"), (401, "bad_range"),
                            (402, "bad_value")}
        got = {(r.vec_a, r.vec_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert got == self.PLANTED | {(300, 301)}
        assert metrics["pairs"] == metrics["non_canonical"] == 11

    def test_wordless_texts_rejected_and_stale_quarantine_removed(
            self, spark, tmp_path, capsys):
        rng = random.Random(11)
        texts = [" ".join(f"w{rng.randrange(1000)}" for _ in range(20))
                 for _ in range(10)]
        good = [(i, texts[i % 10]) for i in range(15)]   # 10..14 copy 0..4
        bad = [(100, None), (101, ""), (102, "   ")]
        inp, clean = str(tmp_path / "in"), str(tmp_path / "clean")
        out = str(tmp_path / "out")
        spark.createDataFrame(good + bad, "doc_id long, text string") \
            .write.parquet(inp)
        spark.createDataFrame(good, "doc_id long, text string") \
            .write.parquet(clean)

        from pdf_extractor_spark.cli import main
        assert main(["--dedup-texts", inp, "--output", out]) == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert (metrics["rows_in"], metrics["kept"], metrics["rejected"]) \
            == (18, 15, 3)
        assert metrics["rejected_by_reason"] == {"no_words": 3}
        rejected = spark.read.parquet(f"{out}/rejected").collect()
        assert {(r.doc_id, r.reason) for r in rejected} == {
            (100, "no_words"), (101, "no_words"), (102, "no_words")}
        got = {(r.doc_a, r.doc_b)
               for r in spark.read.parquet(f"{out}/pairs").collect()}
        assert got == {(i, i + 10) for i in range(5)}

        # a clean rerun into the same directory leaves no stale quarantine
        assert main(["--dedup-texts", clean, "--output", out]) == 0
        metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert metrics["rejected"] == 0
        assert metrics["rows_in"] == metrics["kept"] == 15
        assert not os.path.exists(f"{out}/rejected")


@pytest.mark.parametrize("mode, unit", [
    ("--dedup-texts", "bands"), ("--dedup-embeddings", "buckets")])
def test_hot_block_dropped_and_reported(spark, tmp_path, capsys, mode, unit):
    """EMB_BUCKET_CAP + 1 identical rows share their block in every band,
    so each of the 4 bands reports one dropped block and the hot rows
    pair with nothing; exact copies among a few cold rows are still
    paired, and nothing else is."""
    from pdf_extractor_spark.corpus import EMB_BUCKET_CAP
    hot_n = EMB_BUCKET_CAP + 1
    rng = random.Random(5)
    if mode == "--dedup-texts":
        schema, a, b = "doc_id long, text string", "doc_a", "doc_b"
        hot = "the same boilerplate page repeated across the whole crawl"
        cold = [" ".join(f"w{rng.randrange(10**6)}" for _ in range(20))
                for _ in range(5)]
    else:
        schema, a, b = "vec_id long, embedding array<double>", "vec_a", "vec_b"
        hot = _random_vec(rng)
        cold = [_random_vec(rng) for _ in range(5)]
    rows = ([(i, hot) for i in range(hot_n)]
            + [(10_000 + i, v) for i, v in enumerate(cold)]
            + [(20_000 + i, v) for i, v in enumerate(cold)])
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, schema).write.parquet(inp)

    from pdf_extractor_spark.cli import main
    assert main([mode, inp, "--output", out]) == 0
    metrics = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    dropped = spark.read.parquet(f"{out}/dropped_{unit}").collect()
    assert metrics[f"dropped_hot_{unit}"] == len(dropped) == 4
    assert all(r.bsz >= hot_n for r in dropped)
    got = {(r[a], r[b]) for r in spark.read.parquet(f"{out}/pairs").collect()}
    assert not any(x < hot_n or y < hot_n for x, y in got)
    assert got == {(10_000 + i, 20_000 + i) for i in range(5)}
    assert metrics["pairs"] == metrics["non_canonical"] == 5


def test_hamming_max_beyond_pigeonhole_is_usage_error(capsys):
    """--hamming-max above the 4-band pigeonhole bound is rejected by the
    argument parser (exit 2) before any session starts."""
    from pdf_extractor_spark.cli import main
    with pytest.raises(SystemExit) as exc:
        main(["--dedup-texts", "unused.parquet", "--output", "unused",
              "--hamming-max", "4"])
    assert exc.value.code == 2
    assert "--hamming-max" in capsys.readouterr().err


@pytest.mark.parametrize("rounds", ["0", "-3"])
def test_cc_iterations_below_one_is_usage_error(capsys, rounds):
    """--cc-iterations below 1 is rejected by the argument parser (exit
    2): the first component round is the seed, so there is always one."""
    from pdf_extractor_spark.cli import main
    with pytest.raises(SystemExit) as exc:
        main(["--dedup-embeddings", "unused.parquet", "--output", "unused",
              "--cc-iterations", rounds])
    assert exc.value.code == 2
    assert "--cc-iterations" in capsys.readouterr().err


_RESTART_SCRIPT = """
import random
import sys
from pdf_extractor_spark.corpus import dedup_embeddings_run
from pdf_extractor_spark.session import get_spark

inp, out = sys.argv[1], sys.argv[2]
rng = random.Random(3)
vecs = [[rng.uniform(-1.0, 1.0) for _ in range(64)] for _ in range(5)]
spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
spark.createDataFrame(   # 5 groups of 4 identical vectors: 30 pairs
    [(i, vecs[i % 5]) for i in range(20)],
    "vec_id long, embedding array<double>").write.parquet(inp)
first = dedup_embeddings_run(spark, inp, out + "/first")
spark.stop()
spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
second = dedup_embeddings_run(spark, inp, out + "/second")
spark.stop()
assert first["pairs"] == second["pairs"] == 30, (first, second)
"""


def test_rerun_after_session_restart(tmp_path):
    """Frames cached by a run on a session that was since stopped must
    not break the next run on a new session in the same process."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, str(tmp_path / "in"),
         str(tmp_path / "out")],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]


def test_get_spark_pins_package_parent_on_executors(spark):
    """Python workers unpickle the package's pandas-UDF closures, so the
    package parent rides in the executor env, not only in the driver's
    (which only local workers inherit)."""
    import pdf_extractor_spark
    parent = os.path.dirname(os.path.dirname(
        os.path.abspath(pdf_extractor_spark.__file__)))
    pp = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert pp is not None and parent in pp.split(os.pathsep), pp
