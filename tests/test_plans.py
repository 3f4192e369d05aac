"""Physical-plan guards: the scale properties SURVEY.md §4 promises must
show up in `.explain` output, or a refactor silently regressed them.

* extraction: exactly ONE exchange (the AQE rebalance) feeding one
  MapInArrow — no sampling pass, no extra shuffle;
* a fresh-dir extraction run is exactly four SQL executions;
* dimension joins broadcast instead of shuffling the fact side;
* filters and column pruning reach the parquet scan.
"""

import contextlib
import io
import re

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extraction import extract_operator
from pdf_extractor_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_extraction_single_exchange(spark):
    docs = spark.createDataFrame(
        [("d1", [{"kind": "pdf", "text": "x", "media_ref": "", "offset": 0}])],
        schema="doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")
    plan = plan_of(extract_operator(docs, 8))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REBALANCE_PARTITIONS_BY_COL" in plan, plan
    assert len(re.findall(r"\(\d+\) (?:PythonMapInArrow|MapInArrow|MapInPandas)",
                          plan)) == 1, plan
    # no range-sampling repartition (would appear as rangepartitioning)
    assert "rangepartitioning" not in plan, plan


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


def test_extraction_run_is_four_executions(spark, corpus_path, tmp_path):
    """Footer count, write, lineage aggregate + append, totals: a pass
    added after the write shows up here, not only in a benchmark."""
    from pdf_extractor_spark.plans import pipeline

    before = _last_execution_id(spark)
    pipeline.run_extraction(spark, corpus_path, str(tmp_path / "out"))
    assert _last_execution_id(spark) - before == 4


def test_q03_broadcasts_dimension(spark):
    plan = plan_of(REGISTRY["q03_topk_revenue"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_q01_pushes_filter_to_scan(spark):
    plan = plan_of(REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan, plan


def test_q01_prunes_columns(spark):
    plan = plan_of(REGISTRY["q01_pricing_summary"].spark(spark, SF_DIR))
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    # 16-column lineitem scan must read only the 5 referenced columns
    assert m.group(1).count(":") <= 6, m.group(1)


def test_ann_broadcasts_queries(spark):
    plan = plan_of(REGISTRY["ann_topk_cosine"].spark(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_lineitem_agg_partial_before_shuffle(spark):
    # map-side combine: HashAggregate appears below AND above the exchange
    plan = plan_of(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag").agg(F.count("*").alias("n")))
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory):
    """write_bucketed lays both sides out co-located on the join key: the
    join plan must contain NO Exchange (the shuffle was paid at write)."""
    from pdf_extractor_spark.sources import catalog

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    left = docs.select("doc_id", "source")
    right = docs.select("doc_id", "n_chars")
    catalog.write_bucketed(left, "bkt_left", "doc_id", n_buckets=8)
    catalog.write_bucketed(right, "bkt_right", "doc_id", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test tables are tiny, so AQE would broadcast and hide the
        # bucketing; force the sort-merge path a 100 TB join would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("bkt_left").join(spark.table("bkt_right"), "doc_id")
             .groupBy("source").count())
        plan = plan_of(j)
        # one exchange for the final groupBy is fine; the JOIN itself must
        # not shuffle — assert by checking the join inputs are scans+sorts
        import re as _re
        joins = _re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)
        assert joins, plan
        n_exchange = len(_re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 1, plan  # only the groupBy's, never the join's
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_b6_broadcasts_idf_table(spark):
    """The IDF table is vocabulary-sized (Heaps-sublinear); joining it to
    per-doc terms must broadcast, never shuffle the fact side."""
    plan = plan_of(REGISTRY["b6_multifactor_rank"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_b8_no_sort_merge_joins(spark):
    plan = plan_of(REGISTRY["b8_selection_output"].spark(spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


# Broadcast-tiny cross joins are the ONLY tolerated nested-loop joins:
# 3 query vectors (ann_*), K centroids (ann_ivf_* / dedup_semantic's
# Lloyd assignment), or a 1-row scalar (corpus totals for corpus_mix /
# tfidf_terms and its b6/b8 consumers).
_BNLJ_OK = {"ann_topk_cosine", "ann_ivf_probe", "ann_ivf_kmeans",
            "dedup_semantic", "b6_multifactor_rank", "b8_selection_output",
            "corpus_mix", "tfidf_terms"}


def test_registry_exchange_budget(spark):
    """Shuffle-count ratchet: every registry query's initial physical plan
    must contain AT MOST the Exchange count recorded in plan_budgets.json
    (regenerate with tests/gen_plan_budgets.py after an intentional
    structural change).  At 100 TB an accidental extra exchange is the
    difference between a working job and a dead one — this pins the
    shuffle structure the plan audits signed off on, the same way the
    DuckDB oracles pin the values."""
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__),
                           "plan_budgets.json")) as f:
        budgets = json.load(f)
    assert set(budgets) == set(REGISTRY), (
        "plan_budgets.json out of date — run tests/gen_plan_budgets.py")
    over = []
    for name in sorted(REGISTRY):
        plan = plan_of(REGISTRY[name].spark(spark, SF_DIR))
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        if n > budgets[name]:
            over.append((name, n, budgets[name]))
    assert not over, f"exchange budget exceeded (name, got, budget): {over}"


def test_registry_wide_no_unbounded_joins(spark):
    """EVERY registry query's physical plan: no CartesianProduct ever, and
    BroadcastNestedLoopJoin only where a broadcast-tiny side makes the
    nested loop O(n·k) with k constant — the guard that keeps new
    operators from silently shipping an all-pairs plan."""
    offenders = []
    for name in sorted(REGISTRY):
        plan = plan_of(REGISTRY[name].spark(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders
