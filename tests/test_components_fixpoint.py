"""Fixpoint component labeling (VERDICT r4 item 1): the dedup CLIs and
the registry must never silently split a dup-chain whose diameter exceeds
the propagation budget — they iterate to fixpoint and SURFACE convergence.

The adversarial fixture is a 12-node chain (diameter 11): the fixpoint
form labels it exactly and reports converged, and a budget below the
diameter is reported as not converged."""

import pyspark.sql.functions as F
import pytest

CHAIN_N = 12


def _chain_edges(spark, n=CHAIN_N, stride=10):
    """Path graph 0 - 10 - 20 - ... ((n-1) nodes apart), both directions,
    ids strided so min-label must genuinely travel the whole chain."""
    half = spark.createDataFrame(
        [(i * stride, (i + 1) * stride) for i in range(n - 1)],
        "src long, dst long")
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_fixpoint_labels_long_chain_exactly(spark):
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    labels, cc = min_label_components_fixpoint(_chain_edges(spark))
    rows = {r.node: r.label for r in labels.collect()}
    assert rows == {i * 10: 0 for i in range(CHAIN_N)}
    assert cc["cc_converged"] is True
    assert cc["cc_residual"] == 0
    # min-label needs ~diameter hops plus the confirming round
    assert CHAIN_N - 1 <= cc["cc_rounds"] <= 20


def test_non_convergence_is_surfaced_not_silent(spark):
    """A budget smaller than the diameter must be DETECTED: converged
    False and a positive residual changed-label count in the metrics."""
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    labels, cc = min_label_components_fixpoint(_chain_edges(spark),
                                               max_rounds=2)
    assert cc["cc_converged"] is False
    assert cc["cc_residual"] > 0
    assert cc["cc_rounds"] == 2
    # and the labels really are (detectably) wrong at this budget
    assert labels.select("label").distinct().count() > 1


def test_two_components_stay_separate(spark):
    """Fixpoint must not over-merge: two disjoint chains keep distinct
    labels (each component's minimum)."""
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    a = [(i, i + 1) for i in range(5)]           # component min 0
    b = [(100 + i, 101 + i) for i in range(5)]   # component min 100
    half = spark.createDataFrame(a + b, "src long, dst long")
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels, cc = min_label_components_fixpoint(edges)
    got = {r.node: r.label for r in labels.collect()}
    assert got == {**{i: 0 for i in range(6)},
                   **{100 + i: 100 for i in range(6)}}
    assert cc["cc_converged"] is True


def _both_ways(spark, pairs):
    return spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long")


def test_empty_edges_give_no_labels_in_one_round(spark):
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    labels, cc = min_label_components_fixpoint(_both_ways(spark, []))
    assert labels.collect() == []
    assert cc == {"cc_rounds": 1, "cc_converged": True, "cc_residual": 0}


def test_one_round_over_a_three_chain(spark):
    """Chain 1 - 2 - 3 with a one-round budget: round 1 takes each node's
    minimum over itself and its neighbours, and one label (node 3's) is
    still one hop short."""
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    labels, cc = min_label_components_fixpoint(
        _both_ways(spark, [(1, 2), (2, 3)]), max_rounds=1)
    assert {r.node: r.label for r in labels.collect()} == {1: 1, 2: 1, 3: 2}
    assert cc == {"cc_rounds": 1, "cc_converged": False, "cc_residual": 1}


@pytest.mark.parametrize("rounds", [0, -1])
def test_budget_below_one_round_raises(spark, rounds):
    from pdf_extractor_spark.corpus import min_label_components_fixpoint
    with pytest.raises(ValueError, match="max_rounds"):
        min_label_components_fixpoint(_both_ways(spark, [(1, 2)]),
                                      max_rounds=rounds)


def test_hamming_max_beyond_pigeonhole_raises(spark, tmp_path):
    """ADVICE r4 #2: the 4-band pigeonhole only guarantees candidate
    recall for hamming <= 3; a larger threshold must raise, not silently
    lose pairs that straddle all four bands."""
    from pdf_extractor_spark.corpus import dedup_texts_run
    p = str(tmp_path / "txt")
    (spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
     .write.parquet(p))
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup_texts_run(spark, p, str(tmp_path / "out"), hamming_max=4)
