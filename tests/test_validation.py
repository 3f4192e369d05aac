"""Output schema-validation pass (1A/validate_outputs.py analog):
clean runs validate green, contract violations are counted and surface
in the lineage's violations column rather than silence."""

from pyspark.sql import functions as F

from pdf_extractor_spark.plans import pipeline
from pdf_extractor_spark.plans.pipeline import validate_extracted

OUT_SCHEMA = ("doc_id string, part_id int, spans array<struct<kind:string,"
              "text:string,media_ref:string,offset:int>>, n_spans int, "
              "parse_failures int, proc_us long")


def row(doc_id, spans, failures=0, n_spans=None):
    return (doc_id, 0, spans,
            len(spans) if n_spans is None else n_spans, failures, 0)


def sp(kind, text, off):
    return {"kind": kind, "text": text, "media_ref": "", "offset": off}


class TestValidateExtracted:
    def check(self, spark, rows):
        df = spark.createDataFrame(rows, schema=OUT_SCHEMA)
        r = validate_extracted(df).collect()[0]
        return r.docs_checked, r.violations

    def test_valid_rows_pass(self, spark):
        rows = [
            row("a", [sp("title", "T", 0), sp("h1", "H", 1), sp("body", "b", 2)]),
            row("err", [], failures=1),
        ]
        assert self.check(spark, rows) == (2, 0)

    def test_title_not_first_fails(self, spark):
        rows = [row("a", [sp("body", "b", 0), sp("title", "T", 1)])]
        assert self.check(spark, rows) == (1, 1)

    def test_sparse_offsets_fail(self, spark):
        rows = [row("a", [sp("title", "T", 0), sp("body", "b", 2)])]
        assert self.check(spark, rows) == (1, 1)

    def test_unknown_kind_fails(self, spark):
        rows = [row("a", [sp("title", "T", 0), sp("h9", "x", 1)])]
        assert self.check(spark, rows) == (1, 1)

    def test_inconsistent_n_spans_fails(self, spark):
        rows = [row("a", [sp("title", "T", 0)], n_spans=7)]
        assert self.check(spark, rows) == (1, 1)

    def test_empty_without_failure_flag_fails(self, spark):
        rows = [row("a", [], failures=0)]
        assert self.check(spark, rows) == (1, 1)

    def test_null_kind_or_offset_fails(self, spark):
        """NULL span fields are violations, not silent passes (`when()`
        treats a NULL predicate as false — regression for the coalesce)."""
        rows = [
            row("a", [sp("title", "T", 0), sp("body", "b", None)]),
            row("b", [sp("title", "T", 0), sp(None, "x", 1)]),
        ]
        assert self.check(spark, rows) == (2, 2)


def test_resumed_run_keeps_durable_violation(spark, corpus_path,
                                             tmp_path_factory):
    """A partition committed with violations by an earlier run must keep
    flagging in later resumed runs: committed partitions are never
    re-extracted or re-validated, so the durable violation cannot silently
    drop to 0 (ADVICE r2).  Latest row per partition (by run_seq) wins."""
    out = str(tmp_path_factory.mktemp("vdur"))
    m1 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=7)
    assert m1["validation_violations"] == 0
    # simulate a later run that committed partition 0 with 3 violations
    lin = pipeline.read_lineage(spark, out)
    seq = lin.agg(F.max("run_seq")).collect()[0][0]
    bad = spark.createDataFrame(
        [("snap-later", 0, seq + 1, 5, 0, 0, 0, 3, "committed")], schema=lin.schema)
    bad.write.mode("append").parquet(f"{out}/{pipeline.LINEAGE_SUBDIR}")
    # resumed run: nothing pending, nothing re-validated — the durable
    # violation must still be reported
    m2 = pipeline.run_extraction(spark, corpus_path, out, num_partitions=7)
    assert m2["skipped_committed"] == m1["committed_partitions"]
    assert m2["docs_processed"] == 0
    assert m2["validation_violations"] == 3


def test_pipeline_run_validates_green(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("vrun"))
    m = pipeline.run_extraction(spark, corpus_path, out, num_partitions=7)
    assert m["validation_violations"] == 0
    rows = pipeline.read_lineage(spark, out).collect()
    assert {r.status for r in rows} == {"committed"}
    assert all(r.violations == 0 for r in rows)
    assert len(rows) == m["committed_partitions"]


def test_lineage_counts_rows_not_doc_ids(spark, corpus_rows, tmp_path_factory):
    """An input that repeats a doc_id writes two rows: the partition's
    lineage doc_count is the rows written and span_count their summed
    n_spans, not one per doc_id group of the validation aggregate."""
    from pdf_extractor_spark.operators.extraction import INPUT_SCHEMA

    base = tmp_path_factory.mktemp("dupdoc")
    docs, out = str(base / "docs"), str(base / "out")
    rows = corpus_rows[:20] + [corpus_rows[0]]
    spark.createDataFrame(rows, schema=INPUT_SCHEMA).write.parquet(docs)
    m = pipeline.run_extraction(spark, docs, out, num_partitions=3)

    written = {r.part_id: (r.n, r.spans) for r in
               pipeline.read_extracted(spark, out).groupBy("part_id")
               .agg(F.count("*").alias("n"),
                    F.sum("n_spans").alias("spans")).collect()}
    lineage = {r.partition_id: (r.doc_count, r.span_count)
               for r in pipeline.read_lineage(spark, out)
               .filter(F.col("status") == "committed").collect()}
    assert lineage == written
    assert m["docs_total_committed"] == len(rows)
