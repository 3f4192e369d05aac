"""The shared ANN core (corpus.py) on hand-written 2-d vectors: the
self-norm and the query/corpus split, the exact-cosine top 5 with its
vec_id tie-break, the nearest-cell probe with its cell tie-break, and the
per-cell means."""

from math import sqrt

from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import (EMB_DIM, _ann_split, _ann_top5,
                                        _cell_means, _nearest_cells, _normed)

# vec_id < 3 are the queries; the comments give the cosine against query 0
_ROWS = [
    (0, [1, 0], "q"),
    (1, [0, 1], "q"),
    (7, [1, 0], "c"),    # an exact copy of query 0: 1.0
    (9, [2, 2], "c"),    # 2 / sqrt(8) == 1 / sqrt(2), bit for bit
    (11, [4, 1], "c"),   # 4 / sqrt(17)
    (12, [3, 1], "c"),   # 3 / sqrt(10)
    (13, [2, 1], "c"),   # 2 / sqrt(5)
    (14, [1, 1], "c"),   # 1 / sqrt(2): ties with 9 at the rank-5 boundary
    (15, [0, 3], "c"),   # 0.0
]


def _split(spark):
    rows = spark.createDataFrame(_ROWS, "vec_id long, qv array<long>, tag string")
    return _ann_split(_normed(rows))


def test_split_columns_and_norms(spark):
    q, c = _split(spark)
    assert q.columns == ["query_id", "qa", "na", "tag"]
    assert c.columns == ["vec_id", "qb", "nb", "tag"]
    assert sorted(tuple(r) for r in q.collect()) == [
        (0, [1, 0], 1, "q"), (1, [0, 1], 1, "q")]
    assert sorted((r.vec_id, r.nb, r.tag) for r in c.collect()) == [
        (7, 1, "c"), (9, 8, "c"), (11, 17, "c"), (12, 10, "c"),
        (13, 5, "c"), (14, 2, "c"), (15, 9, "c")]


def test_top5_keeps_lower_vec_id_on_boundary_tie_and_no_self_match(spark):
    q, c = _split(spark)
    got = _ann_top5(c.crossJoin(F.broadcast(q.drop("tag"))), "tag")
    assert got.columns == ["query_id", "rank", "vec_id", "tag", "cos_sim"]
    rows = sorted(tuple(r) for r in got.collect())
    # no query is ever scored, against itself or another query
    assert all(vec_id >= 3 for _, _, vec_id, _, _ in rows)
    assert rows[:5] == [
        (0, 1, 7, "c", 1 / (1 * sqrt(1))),
        (0, 2, 11, "c", 4 / (1 * sqrt(17))),
        (0, 3, 12, "c", 3 / (1 * sqrt(10))),
        (0, 4, 13, "c", 2 / (1 * sqrt(5))),
        (0, 5, 9, "c", 2 / (1 * sqrt(8))),   # 14 ties and is dropped
    ]
    assert rows[5:] == [
        (1, 1, 15, "c", 3 / (1 * sqrt(9))),
        (1, 2, 9, "c", 2 / (1 * sqrt(8))),   # tie with 14: lower id first
        (1, 3, 14, "c", 1 / (1 * sqrt(2))),
        (1, 4, 13, "c", 1 / (1 * sqrt(5))),
        (1, 5, 12, "c", 1 / (1 * sqrt(10))),
    ]


def test_nearest_cells_breaks_ties_to_lower_cell(spark):
    q, _ = _split(spark)
    cents = spark.createDataFrame(
        [(7, [1.0, 0.0]),     # query 0: 1.0
         (5, [3.0, 4.0]),     # query 0: 3 / 5 == 0.6
         (2, [6.0, 8.0]),     # query 0: 6 / 10 == 0.6, the lower cell
         (9, [0.0, 1.0])],    # query 0: 0.0
        "cell long, cv array<double>")
    got = _nearest_cells(q, cents, "cell")
    assert got.columns == ["query_id", "cell"]
    # query 1 ([0, 1]): 9 -> 1.0, then 5 (4 / 5) and 2 (8 / 10) tie at 0.8
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, 2), (0, 7), (1, 2), (1, 9)]


def test_cell_means_per_dimension(spark):
    rows = spark.createDataFrame(
        [(1, [1] * EMB_DIM), (1, [2] * (EMB_DIM - 1) + [-7]), (4, [5] * EMB_DIM)],
        "cell long, qv array<long>")
    got = {r.cell: r.cv for r in _cell_means(rows, "cell").collect()}
    assert got == {1: [1.5] * (EMB_DIM - 1) + [-3.0], 4: [5.0] * EMB_DIM}
