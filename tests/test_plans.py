"""Physical-plan guards: the scale properties SURVEY.md §4 promises must
show up in `.explain` output, or a refactor silently regressed them.

* extraction: exactly ONE exchange (the AQE rebalance) feeding one
  MapInArrow — no sampling pass, no extra shuffle;
* a fresh-dir extraction run is exactly four SQL executions;
* a production embedding dedup pass runs the signature UDF once per row,
  feeds each kept band row to the in-block verify kernel once and makes
  4 + 2 per component round SQL executions;
* the registry MinHash and simhash entries run their text-signature UDF
  once per signed row;
* dimension joins broadcast instead of shuffling the fact side;
* filters and column pruning reach the parquet scan.
"""

import contextlib
import io
import re

import pytest
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


def _arrow_eval_nodes(spark, after: int) -> dict:
    """{execution id: [(desc, output rows)]} of the ArrowEvalPython nodes
    of every SQL execution after ``after``.  A cached plan drawn under
    two scans shares its accumulators and is listed once; a cached plan
    that a later execution only reads reports 0 rows there."""
    _last_execution_id(spark)   # drain the listener bus
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = {}
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= after:
            continue
        values, seen, nodes = store.executionMetrics(eid), set(), []
        graph = store.planGraph(eid).allNodes().iterator()
        while graph.hasNext():
            n = graph.next()
            if n.name() != "ArrowEvalPython":
                continue
            rows = None
            ms = n.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                if m.name() == "number of output rows":
                    acc = m.accumulatorId()
                    v = values.get(acc)
                    if acc not in seen:
                        seen.add(acc)
                        rows = int(v.get().replace(",", "")) \
                            if v.isDefined() else 0
            if rows is not None:
                nodes.append((n.desc(), rows))
        out[eid] = nodes
    return out


@pytest.fixture(scope="module")
def dedup_pass(spark, tmp_path_factory):
    """One ``dedup_embeddings_run`` over 500 random vectors plus 100 exact
    copies (no malformed row): (metrics, ArrowEvalPython nodes per SQL
    execution of the run)."""
    import random

    from pdf_extractor_spark.corpus import dedup_embeddings_run
    rng = random.Random(7)
    base = [[rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(500)]
    rows = ([(i, v) for i, v in enumerate(base)]
            + [(1000 + i, base[i]) for i in range(0, 500, 5)])
    d = tmp_path_factory.mktemp("dedup_pass")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(str(d / "in"))
    before = _last_execution_id(spark)
    m = dedup_embeddings_run(spark, str(d / "in"), str(d / "out"))
    assert (m["kept"], m["rejected"], m["pairs"]) == (600, 0, 100)
    return m, _arrow_eval_nodes(spark, before)


def test_dedup_signature_udf_runs_once_per_row(dedup_pass):
    """The band-signature UDF is cached with the signature frame: its
    nodes output every kept row once over the whole run, not once per
    reader of the frame."""
    m, execs = dedup_pass
    sig = sum(rows for nodes in execs.values() for desc, rows in nodes
              if "qa#" not in desc)
    assert sig == m["kept"]


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def _kernel_input_rows(spark, eids) -> int:
    """Rows fed to the FlatMapGroupsInArrow nodes of the SQL executions
    ``eids``: per node, the output rows of its nearest descendant that
    counts rows (the Project under it counts none)."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for eid in eids:
        values, graph = store.executionMetrics(eid), store.planGraph(eid)
        nodes = {n.id(): n for n in _iter(graph.allNodes())}
        child = {e.toId(): e.fromId() for e in _iter(graph.edges())}
        for nid, n in nodes.items():
            if n.name() != "FlatMapGroupsInArrow":
                continue
            rows = []
            while not rows:
                nid = child[nid]
                rows = [m for m in _iter(nodes[nid].metrics())
                        if m.name() == "number of output rows"]
            v = values.get(rows[0].accumulatorId())
            total += int(v.get().replace(",", "")) if v.isDefined() else 0
    return total


def test_dedup_kernel_reads_each_kept_band_row_once(spark, dedup_pass):
    """The in-block verify kernel is fed every kept band row exactly once
    over the whole run (no hot bucket at this size, so N_EMB_BANDS rows
    per kept vector): a second kernel evaluation, or a kernel fed from a
    re-shuffled or duplicated input, would count more."""
    from pdf_extractor_spark.corpus import N_EMB_BANDS
    m, execs = dedup_pass
    assert m["dropped_hot_buckets"] == 0
    assert _kernel_input_rows(spark, execs) == N_EMB_BANDS * m["kept"]


def test_dedup_run_is_four_plus_two_per_round_executions(dedup_pass):
    """Input aggregate, two executions per component round (checkpoint and
    label sum) and the three sink writes, whose counts are observed as
    they are written."""
    m, execs = dedup_pass
    assert len(execs) == 4 + 2 * m["cc_rounds"]


@pytest.mark.parametrize("name, min_words", [
    ("dedup_minhash_lsh", 3), ("dedup_simhash", 1),
    ("dedup_simhash_blocked", 1)])
def test_text_signature_udf_runs_once_per_signed_row(spark, name, min_words):
    """The text-signature UDF outputs each signed row of the near-dup
    corpus exactly once: a struct-field or gather projection inlined into a
    second ArrowEvalPython node, or a filter pushed below the UDF, would
    count rows twice.  The signed rows (>= 3 words for MinHash, >= 1 for
    simhash) are counted by DuckDB over the oracle's corpus."""
    import duckdb

    from pdf_extractor_spark.corpus import NEARDUP_CORPUS_D, WORDS_D
    want = duckdb.sql(
        f"WITH documents AS (SELECT * FROM '{SF_DIR}/documents.parquet'), "
        f"{NEARDUP_CORPUS_D} SELECT count(*) FROM corpus "
        f"WHERE len({WORDS_D}) >= {min_words}").fetchone()[0]
    before = _last_execution_id(spark)
    REGISTRY[name].spark(spark, SF_DIR).collect()
    got = sum(rows for nodes in _arrow_eval_nodes(spark, before).values()
              for _desc, rows in nodes)
    assert want > 0 and got == want


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


def test_ann_lsh_norms_come_from_the_signature(spark):
    """ann_lsh_bucketed norms each vector once, in its band signature:
    the plan's Arrow UDF nodes are that signature and the top-5 dot, with
    no self-dot per split side."""
    plan = plan_of(REGISTRY["ann_lsh_bucketed"].spark(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 2, plan


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
