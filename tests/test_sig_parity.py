"""Fuzzed cross-engine parity of the signature engines.

The minhash/shingle signatures are single let-bound SQL expressions
(corpus.let1); the simhash and sign-LSH signatures run as Arrow-batched
numpy engines, with their Spark SQL forms kept as references in
tests/sig_reference.py.  These tests pin each against independent
pure-python replicas over adversarial texts (empty, repeated separators,
unicode, 1-2 word docs, duplicate words), and each Arrow engine against
its SQL reference inside Spark — the oracle gate only exercises the
fixture corpus, so an edge-case divergence (e.g. a boundary slip in the
lane slicing or vote parity) would otherwise surface only at deploy.
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pdf_extractor_spark.corpus import MINHASH_SIG_S, SHINGLES_FROM_TEXT_S
from sig_reference import (_bands_array_s, _simhash_bands_from_text_s,
                           _simhash_nib_from_text_s)

# words are split on a single space and empties dropped; include unicode,
# punctuation and runs of spaces to stress the boundary conditions
word_st = st.text(
    alphabet=st.characters(blacklist_characters=" ", blacklist_categories=("Cs",)),
    min_size=1, max_size=8)
text_st = st.lists(
    st.one_of(word_st, st.just("")), max_size=12).map(" ".join)


def _words(t):
    return [w for w in t.split(" ") if w]


def _shingles(ws):
    return [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _py_minhash_sig(text):
    ws = _words(text)
    sh = _shingles(ws)
    if not sh:
        return None
    hs = [_md5(s) + _md5("#" + s) for s in sh]
    lanes = [min(h[8 * j:8 * j + 8] for h in hs) for j in range(8)]
    return {
        "n_shingles": len(sh),
        "mh0": lanes[0], "mh1": lanes[1],
        "band0": lanes[0] + lanes[1], "band1": lanes[2] + lanes[3],
        "band2": lanes[4] + lanes[5], "band3": lanes[6] + lanes[7],
    }


def _py_simhash_nib(text, nbits=60):
    ws = _words(text)
    if not ws:
        return None
    votes = [0] * nbits
    for w in ws:
        h = _md5(w)
        for j in range(nbits):
            nib = int(h[j // 4], 16)
            votes[j] += 1 if (nib >> (j % 4)) & 1 else -1
    return sum(1 << j for j in range(nbits) if votes[j] > 0)


def _run_texts(spark, texts, cols):
    schema = StructType([StructField("text", StringType())])
    df = spark.createDataFrame([(t,) for t in texts], schema)
    return df.select(*cols).collect()


@pytest.fixture(scope="module")
def fuzz_texts():
    """A deterministic adversarial pool, plus hypothesis adds random ones."""
    return [
        "", " ", "   ", "a", "a b", "a b c", "a  b   c", "a a a a",
        "x y z x y z x y z", "\tword \t tab", "ünïcode wörds hére too",
        "same same same", ". . . .", "a b c d e f g h i j k",
    ]


def test_minhash_sig_matches_python_replica(spark, fuzz_texts):
    texts = fuzz_texts + [" ".join(["w%d" % (i % 5) for i in range(n)])
                          for n in range(1, 20)]
    rows = _run_texts(
        spark, texts,
        [F.col("text"), F.expr(MINHASH_SIG_S).alias("sig"),
         F.expr(SHINGLES_FROM_TEXT_S).alias("sh")])
    for r in rows:
        want = _py_minhash_sig(r.text)
        assert list(r.sh) == _shingles(_words(r.text)), repr(r.text)
        if want is None:
            assert r.sig.n_shingles == 0, repr(r.text)
            continue
        got = r.sig.asDict()
        assert got == want, (repr(r.text), got, want)


def test_simhash60_matches_python_replica(spark, fuzz_texts):
    texts = [t for t in fuzz_texts if _words(t)]
    rows = _run_texts(
        spark, texts,
        [F.col("text"), F.expr(_simhash_nib_from_text_s(60)).alias("sig")])
    for r in rows:
        assert r.sig == _py_simhash_nib(r.text), repr(r.text)


@settings(max_examples=30, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=8))
def test_minhash_sig_fuzz(spark_session_holder, texts):
    spark = spark_session_holder
    rows = _run_texts(spark, texts,
                      [F.col("text"), F.expr(MINHASH_SIG_S).alias("sig")])
    for r in rows:
        want = _py_minhash_sig(r.text)
        if want is None:
            assert r.sig.n_shingles == 0, repr(r.text)
        else:
            assert r.sig.asDict() == want, repr(r.text)


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    # hypothesis forbids function-scoped fixtures; re-expose module-scoped
    return spark


# ---- Arrow-batch production signature (_simhash_bands_batch) parity ----

def _py_simhash_bands(text, bits):
    """Independent replica of the band rule (`_simhash_bands_batch` and
    its SQL reference): bit j of the 4*bits signature votes on bit j%4 of hex
    digit j//4 of the (possibly doubled) word digest; band k packs bits
    [k*bits, (k+1)*bits)."""
    ws = _words(text)
    if not ws:
        return None
    nbits = 4 * bits
    votes = [0] * nbits
    for w in ws:
        h = _md5(w) if bits <= 32 else _md5(w) + _md5("#" + w)
        for j in range(nbits):
            nib = int(h[j // 4], 16)
            votes[j] += 1 if (nib >> (j % 4)) & 1 else -1
    return [sum(1 << (j - k * bits)
                for j in range(k * bits, (k + 1) * bits) if votes[j] > 0)
            for k in range(4)]


@pytest.mark.parametrize("bits", [15, 21, 40])
def test_simhash_bands_batch_matches_replica(fuzz_texts, bits):
    from pdf_extractor_spark.corpus import _simhash_bands_batch
    texts = fuzz_texts + [" ".join("w%d" % (i % 7) for i in range(n))
                          for n in range(1, 24)]
    got = _simhash_bands_batch(texts, bits)
    for t, g in zip(texts, got):
        want = _py_simhash_bands(t, bits)
        if want is None:
            assert g is None, repr(t)
        else:
            assert list(g) == want, (repr(t), list(g), want)


@pytest.mark.parametrize("bits", [15, 21, 40])
def test_simhash_bands_udf_matches_sql_expr(spark, fuzz_texts, bits):
    """The Arrow engine vs the SQL reference, in Spark, including
    unicode (exercises UTF-8 digest parity end to end)."""
    from pdf_extractor_spark.corpus import simhash_bands_udf
    texts = [t for t in fuzz_texts if _words(t)]
    rows = _run_texts(
        spark, texts,
        [F.col("text"),
         simhash_bands_udf(bits)(F.col("text")).alias("arrow_bands"),
         F.expr(_simhash_bands_from_text_s(bits)).alias("sql_bands")])
    for r in rows:
        assert list(r.arrow_bands) == list(r.sql_bands), repr(r.text)


@settings(max_examples=25, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=6))
def test_simhash_bands_batch_fuzz(texts):
    from pdf_extractor_spark.corpus import _simhash_bands_batch
    got = _simhash_bands_batch(texts, 21)
    for t, g in zip(texts, got):
        want = _py_simhash_bands(t, 21)
        assert (g is None and want is None) or list(g) == want, repr(t)


# ---- Arrow-batch embedding LSH bands / norm / dot parity ----

@pytest.mark.parametrize("ppb", [8, 12])
def test_emb_bands_nrm_udf_matches_sql_expr(spark, ppb):
    """Arrow banding vs the SQL reference on quantized
    vectors spanning negatives, zeros, and the planted-dup case.  The
    plane dots are integer-valued < 2^53, so any float64 summation order
    is exact — the two paths must agree bit for bit."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import EMB_DIM, emb_bands_nrm_udf
    df = (spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id, i), 997) - 498 AS BIGINT))")
        .alias("qv")))
    bn = emb_bands_nrm_udf(ppb)(F.col("qv"))
    rows = (df.select(
        "vec_id",
        bn.getField("bands").alias("arrow_bands"),
        bn.getField("nrm").alias("arrow_nrm"),
        _bands_array_s("qv", ppb).alias("sql_bands"),
        F.expr("aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L, "
               "(acc, v) -> acc + v)").alias("sql_nrm"))
        .collect())
    assert rows
    for r in rows:
        assert list(r.arrow_bands) == list(r.sql_bands), r.vec_id
        assert r.arrow_nrm == r.sql_nrm, r.vec_id


def test_emb_dot_udf_matches_sql_expr(spark):
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import EMB_DIM, emb_dot_udf
    from sig_reference import DOT_S
    df = (spark.range(80).select(
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id, i), 997) - 498 AS BIGINT))")
        .alias("qa"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id + 7, i), 991) - 495 AS BIGINT))")
        .alias("qb")))
    rows = (df.select(emb_dot_udf()(F.col("qa"), F.col("qb"))
                      .alias("arrow_dot"),
                      F.expr(DOT_S).alias("sql_dot")).collect())
    assert rows
    for r in rows:
        assert r.arrow_dot == r.sql_dot


def test_kmeans_assign_udf_matches_lit_on_integer_centroids(spark):
    """Arrow argmax vs the literal-expression argmax against INTEGER
    seed centroids — the bit-identical round (all products < 2^53, any
    summation order exact; see kmeans_assign_udf).  Includes an exact
    duplicate of a centroid (cosine-1 tie across scaled copies) to
    exercise the lowest-cell tie-break both ways."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.corpus import (EMB_DIM, _assign_cell_lit,
                                            _cents_rows,
                                            kmeans_assign_udf)
    data = (spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(pmod(xxhash64(id, i), 41) - 20 AS BIGINT))")
        .alias("qv")))
    # centroids: 7 hash-derived + one 2x-scaled copy of centroid 0
    # (same direction => exactly tied cosine with cell 0 for every row)
    cents = (spark.range(7).select(
        F.col("id").alias("cell"),
        F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
               "CAST(CAST(pmod(xxhash64(id + 100, i), 41) - 20 AS BIGINT) "
               "AS DOUBLE))").alias("cv"))
        .unionByName(spark.range(1).select(
            (F.col("id") + 7).alias("cell"),
            F.expr(f"transform(sequence(0, {EMB_DIM - 1}), i -> "
                   "2.0 * CAST(CAST(pmod(xxhash64(id + 100, i), 41) - 20 "
                   "AS BIGINT) AS DOUBLE))").alias("cv"))))
    rows = _cents_rows(cents)
    got = (data.select(
        "vec_id",
        kmeans_assign_udf(rows)(F.col("qv")).alias("arrow_cell"),
        _assign_cell_lit(rows).alias("sql_cell")).collect())
    assert got
    for r in got:
        assert r.arrow_cell == r.sql_cell, r.vec_id
