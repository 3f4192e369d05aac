"""Fuzzed cross-engine parity of the signature engines.

Every md5 text signature (MinHash, simhash, winnowing) runs on the one
Arrow digest kernel of corpus.py, and the sign-LSH bands and int64 dots
run on numpy; their Spark SQL higher-order-function forms are kept as
references in tests/sig_reference.py.  These tests pin each reference and
each kernel against independent pure-python replicas over adversarial
texts (None, empty, repeated separators, unicode, 1-3 word docs, repeated
shingles), and each Arrow engine against its SQL reference inside Spark —
the oracle gate only exercises the fixture corpus, so an edge-case
divergence (e.g. a boundary slip in the lane slicing, the shingle order
or the vote parity) would otherwise surface only at deploy.
"""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pdf_extractor_spark.corpus import (SHINGLES_FROM_TEXT_S, _SIMHASH16_S,
                                        minhash_udf, simhash_bands_udf)
from sig_reference import (MINHASH_LSH_SIG_S, MINHASH_SIG_S, _bands_array_s,
                           _simhash_bands_from_text_s, _simhash_from_text_s,
                           _simhash_nib_from_text_s)

# words are split on a single space and empties dropped; include unicode,
# punctuation and runs of spaces to stress the boundary conditions
word_st = st.text(
    alphabet=st.characters(blacklist_characters=" ", blacklist_categories=("Cs",)),
    min_size=1, max_size=8)
text_st = st.lists(
    st.one_of(word_st, st.just("")), max_size=12).map(" ".join)
# exactly 3 words (one shingle), and word runs repeated 2-4 times, so a
# shingle recurs and the first-occurrence order of `shset` is exercised
three_st = st.lists(word_st, min_size=3, max_size=3).map(" ".join)
repeat_st = st.tuples(st.lists(word_st, min_size=1, max_size=4),
                      st.integers(2, 4)).map(lambda p: " ".join(p[0] * p[1]))
sig_text_st = st.one_of(text_st, three_st, repeat_st)


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


def _py_minhash_full(text):
    """The struct of corpus.minhash_udf: (n_shingles, shset, bands)."""
    sh = _shingles(_words(text or ""))
    sig = _py_minhash_sig(text or "")
    bands = ([sig[f"band{k}"] for k in range(4)] if sig else [None] * 4)
    return len(sh), list(dict.fromkeys(sh)), bands


def _py_simhash16(text):
    """dedup_simhash's signature: bit j votes on the parity of hex digit j
    of each word's md5."""
    votes = [0] * 16
    for w in _words(text):
        h = _md5(w)
        for j in range(16):
            votes[j] += 1 if int(h[j], 16) & 1 else -1
    return sum(1 << j for j in range(16) if votes[j] > 0)


def _simhash16_cols(df):
    """(text, arrow, sql): the 16-bit gather over simhash_bands_udf(16)
    and its SQL reference, for the worded rows of ``df``."""
    return (df.select("text", simhash_bands_udf(16)(F.col("text"))
                      .alias("bands"))
            .filter(F.col("bands").isNotNull())
            .select("text", F.expr(_SIMHASH16_S).alias("arrow"),
                    F.expr(_simhash_from_text_s()).alias("sql")))


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


def _text_df(spark, texts):
    schema = StructType([StructField("text", StringType())])
    return spark.createDataFrame([(t,) for t in texts], schema)


def _run_texts(spark, texts, cols):
    return _text_df(spark, texts).select(*cols).collect()


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


# ---- the one text-signature kernel vs the moved SQL references ----

def test_minhash_udf_matches_sql_reference(spark, fuzz_texts):
    """The MinHash kernel's whole struct (n_shingles, shset in order, the
    4 bands) equals MINHASH_LSH_SIG_S in Spark, short and None texts
    included."""
    texts = fuzz_texts + [None, "a b c a b c a b c d"] + [
        " ".join("w%d" % (i % 5) for i in range(n)) for n in range(1, 20)]
    rows = (_text_df(spark, texts)
            .select("text", minhash_udf()(F.col("text")).alias("arrow"),
                    F.expr(MINHASH_LSH_SIG_S).alias("sql")).collect())
    assert len(rows) == len(texts)
    for r in rows:
        assert r.arrow.asDict() == r.sql.asDict(), repr(r.text)


def test_simhash16_gather_matches_sql_reference(spark, fuzz_texts):
    texts = [t for t in fuzz_texts if _words(t)]
    rows = _simhash16_cols(_text_df(spark, texts)).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r.arrow == r.sql == _py_simhash16(r.text), repr(r.text)


def test_fingerprint_kernel_matches_sql_reference(spark, fuzz_texts):
    """The winnowing kernel of text_fingerprint vs its SQL form, on texts
    of >= 6 words with few and with many distinct 4-grams."""
    from pdf_extractor_spark.corpus import WORDS_S, _fingerprint_batch
    from sig_reference import FINGERPRINT_FPS_S, FINGERPRINT_KH_S
    texts = fuzz_texts + [" ".join("w%d" % (i % k) for i in range(n))
                          for k in (2, 3, 50) for n in range(6, 30, 5)]
    rows = (_text_df(spark, texts)
            .select("text", F.expr(WORDS_S).alias("words"))
            .filter(F.size("words") >= 6)
            .select("text", F.expr(FINGERPRINT_KH_S).alias("kh"))
            .select("text", F.expr(FINGERPRINT_FPS_S).alias("fps")).collect())
    assert len(rows) == sum(len(_words(t)) >= 6 for t in texts) == 17
    got = _fingerprint_batch([r.text for r in rows])
    for r, *g in zip(rows, got["n_fps"], got["fp_min"], got["fp_max"]):
        assert g == [len(r.fps), min(r.fps), max(r.fps)], repr(r.text)


@settings(max_examples=30, deadline=None)
@given(st.lists(sig_text_st, min_size=1, max_size=8))
def test_text_kernels_fuzz(spark_session_holder, texts):
    """Both kernels against the pure-python replicas: the MinHash struct
    on every text, the 16-bit gather on every worded one."""
    from pdf_extractor_spark.corpus import _minhash_batch
    got = _minhash_batch(texts)
    for t, *g in zip(texts, got["n_shingles"], got["shset"], got["bands"]):
        assert tuple(g) == _py_minhash_full(t), repr(t)
    rows = _simhash16_cols(_text_df(spark_session_holder, texts)).collect()
    assert len(rows) == sum(1 for t in texts if _words(t))
    for r in rows:
        assert r.arrow == _py_simhash16(r.text), repr(r.text)


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
