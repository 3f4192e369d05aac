"""The shared MinHash-LSH core (corpus.py) on hand-written inputs: the
exact-Jaccard verify at and around its integer threshold, and the
batch-vs-index band probe."""

import pytest

from pdf_extractor_spark.corpus import _band_probe, _jaccard_verified

# hand-written distinct shingle sets; the pair comments give |A∩B|/|A∪B|
_SETS = [
    (1, ["a b c", "b c d", "c d e"]),
    (2, ["a b c", "b c d", "c d e", "x y z", "y z w", "z w v"]),  # 1~2: 3/6
    (3, ["a b c", "b c d", "c d e"]),
    (4, ["a b c", "b c d", "c d e", "x y z", "y z w", "z w v",
         "w v u"]),                                           # 3~4: 3/7
    (5, ["p q r", "q r s", "r s t", "s t u", "t u v"]),
    (6, ["p q r", "q r s", "r s t", "s t u", "t u v", "u v w"]),  # 5~6: 5/6
    (7, ["p q r", "q r s", "r s t", "s t u"]),
    (8, ["p q r", "q r s", "r s t", "s t u", "t u v"]),        # 7~8: 4/5
    (9, ["p q r", "q r s", "r s t"]),
    (10, ["p q r", "q r s", "r s t", "s t u"]),               # 9~10: 3/4
]
_PAIRS = [(1, 2), (3, 4), (5, 6), (7, 8), (9, 10)]


@pytest.mark.parametrize("threshold_pct, want", [
    # 1/2 is kept at its own boundary; 3/7 just under it is dropped
    (50, [(1, 2, 3, 6), (5, 6, 5, 6), (7, 8, 4, 5), (9, 10, 3, 4)]),
    # 5/6 above and 4/5 on the 0.8 boundary kept; 3/4 just below dropped
    (80, [(5, 6, 5, 6), (7, 8, 4, 5)]),
])
def test_jaccard_verified_threshold_boundaries(spark, threshold_pct, want):
    sigs = spark.createDataFrame(_SETS, "doc_id long, shset array<string>")
    cand = spark.createDataFrame(_PAIRS, "doc_a long, doc_b long")
    got = _jaccard_verified(cand, sigs, sigs, "doc_a", "doc_b",
                            threshold_pct=threshold_pct)
    assert got.columns == ["doc_a", "doc_b", "n_inter", "n_union"]
    assert sorted(tuple(r) for r in got.collect()) == want


def test_band_probe_never_pairs_a_doc_with_itself(spark):
    schema = "doc_id long, band_idx int, bucket string"
    batch = spark.createDataFrame(
        [(7, 0, "k1"), (7, 1, "k2"), (8, 0, "k1"), (9, 2, "k9")], schema)
    # doc 7 is also in the index, on the same bucket as the batch's doc 7
    index = spark.createDataFrame(
        [(7, 0, "k1"), (7, 1, "k2"), (3, 1, "k2"), (4, 0, "k9")], schema)
    got = _band_probe(batch, index)
    assert got.columns == ["new_doc", "index_doc"]
    assert sorted(tuple(r) for r in got.collect()) == [(7, 3), (8, 7)]
