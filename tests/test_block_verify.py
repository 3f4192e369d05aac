"""The in-block exact verify (corpus.py ``_block_pairs``), checked against
hand-written band rows and a numpy all-pairs brute force: a pair agreeing
in several bands comes out once, a pair whose first band is hot is still
found, a block wider than one Gram tile gives exactly the brute-force
pairs with bit-equal cosines, and blocks of zero or one row give none."""

from math import sqrt

import numpy as np

from pdf_extractor_spark.corpus import (BLOCK_TILE, _block_pairs,
                                        _block_scores, _lsh_block_pairs,
                                        emb_band_candidates)

_B_SCHEMA = "vec_id long, qv array<long>, bands array<int>, nrm long"


def _band_rows(spark, rows, cap):
    return emb_band_candidates(spark.createDataFrame(rows, _B_SCHEMA), cap)


def test_pair_agreeing_in_two_bands_is_emitted_once(spark):
    rows = [(1, [3, 4], [7, 8, 1, 2], 25),
            (2, [4, 3], [7, 8, 3, 4], 25),    # shares bands 0 and 1 with 1
            (3, [0, 5], [9, 9, 9, 9], 25)]    # shares no bucket
    kept, dropped = _band_rows(spark, rows, cap=10)
    assert dropped.collect() == []
    cos = 24 / (sqrt(25) * sqrt(25))
    per_band = _block_pairs(kept, ["band_idx", "bucket"], lambda c: c >= 0.5)
    assert sorted(tuple(r) for r in per_band.collect()) == [
        (0, 7, 1, 2, cos), (1, 8, 1, 2, cos)]
    assert [tuple(r) for r in
            _lsh_block_pairs(kept, lambda c: c >= 0.5).collect()] == [
        (1, 2, cos)]


def test_pair_whose_first_band_is_hot_is_found_through_another(spark):
    rows = [(10, [1, 1], [5, 1, 6, 1], 2),
            (11, [1, 1], [5, 2, 6, 2], 2),    # shares band 2 with 10
            (12, [1, 1], [5, 3, 7, 3], 2)]    # shares only the hot band 0
    kept, dropped = _band_rows(spark, rows, cap=2)
    assert [tuple(r) for r in dropped.collect()] == [(0, 5, 3)]
    assert [tuple(r) for r in
            _lsh_block_pairs(kept, lambda c: c >= 0.5).collect()] == [
        (10, 11, 2 / (sqrt(2) * sqrt(2)))]


def test_block_wider_than_a_tile_matches_all_pairs_bruteforce(spark):
    n = 1500
    assert BLOCK_TILE < n
    rng = np.random.default_rng(3)
    q = rng.integers(-10_000, 10_000, size=(n, 64))
    k = len(q[1::7])   # plant near copies beside the random rows
    q[1::7] = q[::7][:k] + rng.integers(-50, 50, size=(k, 64))
    ids = rng.permutation(np.arange(n) * 3 + 5)   # unsorted, gapped ids
    nrm = (q * q).sum(axis=1)
    rows = [(1, int(i), [int(x) for x in v], int(s))
            for i, v, s in zip(ids, q, nrm)] + [(2, 9, [1] * 64, 64)]
    df = spark.createDataFrame(
        rows, "cell long, vec_id long, qv array<long>, nrm long")
    out = _block_pairs(df, ["cell"], lambda c: c >= 0.25).collect()
    got = {(r.vec_a, r.vec_b): (r.cell, r.cos_sim) for r in out}
    assert len(got) == len(out)

    want = {}
    dot = q @ q.T   # the whole Gram matrix at once
    for x in range(n):
        for y in np.nonzero(ids[x] < ids)[0]:
            cos = float(dot[x, y]) / (sqrt(float(nrm[x]))
                                      * sqrt(float(nrm[y])))
            if cos >= 0.25:
                want[(int(ids[x]), int(ids[y]))] = (1, cos)
    assert len(want) > k
    assert got == want


def test_empty_and_one_row_blocks_give_no_pairs(spark):
    none = np.empty(0, np.int64)
    a, b, cos = _block_scores(none, np.empty((0, 64), np.int64), none,
                              lambda c: c > -2)
    assert (len(a), len(b), len(cos)) == (0, 0, 0)
    df = spark.createDataFrame(
        [(1, 4, [1, 2], 5)], "cell long, vec_id long, qv array<long>, nrm long")
    assert _block_pairs(df, ["cell"], lambda c: c > -2).collect() == []


def test_zero_norm_rows_pair_with_nothing(spark):
    """A zero vector has no cosine (0 / 0): it is never kept, and it does
    not fail the block, where the SQL `COS` raises DIVIDE_BY_ZERO under
    ANSI mode."""
    df = spark.createDataFrame(
        [(1, 4, [0, 0], 0), (1, 5, [0, 0], 0), (1, 6, [1, 2], 5),
         (1, 7, [1, 2], 5)],
        "cell long, vec_id long, qv array<long>, nrm long")
    assert [tuple(r) for r in
            _block_pairs(df, ["cell"], lambda c: c > -2).collect()] == [
        (1, 6, 7, 5 / (sqrt(5) * sqrt(5)))]
