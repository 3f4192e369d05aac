"""t3: checkpoint-resume — a run killed after K partitions, then resumed,
must skip committed partitions and converge to output identical to a
single clean run (FIXTURES.md §6)."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from pdf_extractor_spark.plans import pipeline


def spans_by_doc(df):
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or [])]
            for r in df.select("doc_id", "spans").collect()}


def test_partial_then_resume(spark, corpus_path, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    pipeline.run_extraction(spark, corpus_path, clean_dir, num_partitions=11)
    want = spans_by_doc(pipeline.read_extracted(spark, clean_dir))

    out = str(tmp_path_factory.mktemp("resumed"))
    # "killed" run: only partitions 0..4 commit
    m1 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11,
                                 limit_partitions=5)
    committed_1 = pipeline.committed_partitions(spark, f"{out}/{pipeline.LINEAGE_SUBDIR}")
    assert 0 < len(committed_1) <= 5
    assert m1["docs_total_committed"] < len(want)

    # resume: must skip every committed partition and finish the rest
    m2 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)
    assert m2["skipped_committed"] == len(committed_1)
    got = spans_by_doc(pipeline.read_extracted(spark, out))
    assert got == want

    # lineage: one committed row per partition, no duplicates
    lin = pipeline.read_lineage(spark, out)
    dupes = (lin.filter(F.col("status") == "committed").groupBy("partition_id")
             .count().filter("count > 1").count())
    assert dupes == 0
    # two distinct snapshots recorded (one per run)
    assert lin.select("source_snapshot").distinct().count() == 2

    # a third run is a no-op on data (idempotent): all partitions committed
    before = spans_by_doc(pipeline.read_extracted(spark, out))
    m3 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)
    assert m3["skipped_committed"] == len(pipeline.committed_partitions(
        spark, f"{out}/{pipeline.LINEAGE_SUBDIR}")) or m3["docs_total_committed"] == len(want)
    after = spans_by_doc(pipeline.read_extracted(spark, out))
    assert after == before


def test_crash_between_write_and_lineage(spark, corpus_path, tmp_path_factory):
    """Crash AFTER the data write but BEFORE the lineage append: the
    partition has durable data yet no lineage row → resume must re-process
    it, and dynamic partition overwrite must leave exactly one copy."""
    clean_dir = str(tmp_path_factory.mktemp("clean2"))
    pipeline.run_extraction(spark, corpus_path, clean_dir, num_partitions=11)
    want = spans_by_doc(pipeline.read_extracted(spark, clean_dir))

    out = str(tmp_path_factory.mktemp("crashed"))
    pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)

    # simulate the torn state: drop the lineage rows for 3 partitions while
    # keeping their written data
    lin_loc = f"{out}/{pipeline.LINEAGE_SUBDIR}"
    lin = pipeline.read_lineage(spark, out)
    keep = lin.filter(~F.col("partition_id").isin([0, 1, 2]))
    kept_rows = keep.collect()
    import shutil
    shutil.rmtree(lin_loc)
    spark.createDataFrame(kept_rows, lin.schema).write.parquet(lin_loc)

    m = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)
    # only the torn partitions were re-processed
    assert m["skipped_committed"] == 11 - 3

    got = spans_by_doc(pipeline.read_extracted(spark, out))
    assert got == want  # no duplicates, no losses — overwrite was idempotent
    n_rows = pipeline.read_extracted(spark, out).count()
    assert n_rows == len(want)


def test_rerun_without_resume_counts_latest_rows(spark, corpus_path, corpus_rows,
                                                 tmp_path_factory):
    """``resume=False`` re-extracts every partition into the same dir: the
    totals describe the output on disk (latest lineage row per partition),
    not every committed row ever appended; a fully-skipped resume then
    processes no docs."""
    out = str(tmp_path_factory.mktemp("rerun"))
    m1 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)
    m2 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11,
                                 resume=False)
    assert pipeline.read_extracted(spark, out).count() == len(corpus_rows)
    for k in ("docs_total_committed", "spans_total", "parse_failures",
              "committed_partitions"):
        assert m2[k] == m1[k], k
    assert m1["docs_total_committed"] == len(corpus_rows)
    assert m2["skipped_committed"] == 0
    assert m2["docs_processed"] == len(corpus_rows)

    m3 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=11)
    assert m3["skipped_committed"] == m1["committed_partitions"]
    assert m3["docs_processed"] == 0
    assert m3["docs_total_committed"] == len(corpus_rows)


def test_resume_read_catches_only_missing_lineage(spark, tmp_path):
    """No lineage yet (absent or empty dir) means nothing committed; any
    other lineage read error, such as the older layout without run_seq,
    propagates instead of passing for "nothing committed"."""
    assert pipeline.committed_partitions(spark, str(tmp_path / "absent")) == {}
    (tmp_path / "empty").mkdir()
    assert pipeline.committed_partitions(spark, str(tmp_path / "empty")) == {}
    old = str(tmp_path / "old")
    spark.createDataFrame([("s", 0, 1, 1, 0, 0, "committed")],
                          "source_snapshot string, partition_id int, doc_count long, "
                          "span_count long, parse_failures long, wall_ms long, "
                          "status string").write.parquet(old)
    with pytest.raises(AnalysisException):
        pipeline.committed_partitions(spark, old)
