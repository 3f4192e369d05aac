"""t2 end-to-end: Spark pipeline output == pure-Python oracle, exactly
(kind, text, media_ref, order) per doc_id — the north-rule invariant —
plus partition-count permutation invariance and skew-isolation checks."""

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.gen import corrupt_count
from pdf_extractor_spark.operators.extraction import JUMBO_SPANS, extract_operator
from pdf_extractor_spark.plans import pipeline


def spans_by_doc(df):
    out = {}
    for r in df.select("doc_id", "spans").collect():
        out[r.doc_id] = [(s.kind, s.text, s.media_ref, s.offset) for s in (r.spans or [])]
    return out


def golden_tuples(golden):
    return {d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
            for d, spans in golden.items()}


@pytest.fixture(scope="module")
def run_dir(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run"))
    metrics = pipeline.run_extraction(spark, corpus_path, out, num_partitions=13)
    return out, metrics


class TestEndToEnd:
    def test_exact_span_sequence_equality(self, spark, run_dir, golden):
        out, _ = run_dir
        got = spans_by_doc(pipeline.read_extracted(spark, out))
        want = golden_tuples(golden)
        assert set(got) == set(want)
        mismatches = [d for d in want if got[d] != want[d]]
        assert mismatches == [], f"first mismatch: {mismatches[:1]}"

    def test_parse_failure_tally(self, run_dir, corpus_rows):
        _, metrics = run_dir
        assert metrics["parse_failures"] == corrupt_count(corpus_rows)
        assert metrics["docs_total_committed"] == len(corpus_rows)

    def test_lineage_consistency(self, spark, run_dir):
        out, metrics = run_dir
        rows = pipeline.read_lineage(spark, out).collect()
        # one typed row per partition: committed, with the contract
        # validation of the same read-back in its own column
        assert {r.status for r in rows} == {"committed"}
        assert all(r.violations == 0 for r in rows)
        assert len(rows) == metrics["committed_partitions"]
        assert sum(r.doc_count for r in rows) == metrics["docs_total_committed"]
        ext = pipeline.read_extracted(spark, out)
        per_part = {r.part_id: r["cnt"] for r in
                    ext.groupBy("part_id").agg(F.count("*").alias("cnt")).collect()}
        for r in rows:
            assert per_part[r.partition_id] == r.doc_count
        assert all(r.wall_ms >= 0 for r in rows)

    def test_partition_count_invariance(self, spark, corpus_path, golden, tmp_path_factory):
        want = golden_tuples(golden)
        for p in (3, 29):
            out = str(tmp_path_factory.mktemp(f"perm{p}"))
            pipeline.run_extraction(spark, corpus_path, out, num_partitions=p)
            got = spans_by_doc(pipeline.read_extracted(spark, out))
            assert got == want, f"output differs at num_partitions={p}"

    def test_jumbo_docs_isolated(self, spark, corpus_path):
        df = spark.read.parquet(corpus_path)
        from pdf_extractor_spark.operators.extraction import with_partition_id
        salted = with_partition_id(df, 13)
        jumbo = salted.filter(F.size("spans") >= JUMBO_SPANS)
        normal = salted.filter(F.size("spans") < JUMBO_SPANS)
        assert normal.filter(F.col("part_id") >= 13).count() == 0
        if jumbo.count():
            assert jumbo.filter(F.col("part_id") < 13).count() == 0

    def test_rebalance_spreads_docs_over_tasks(self, spark):
        """REBALANCE on part_id: no task takes the bulk of the docs, and each
        part_id is extracted by exactly one task (one output file per id)."""
        from pdf_extractor_spark.gen import gen_doc
        from pdf_extractor_spark.operators.extraction import INPUT_SCHEMA
        rows = [gen_doc(f"doc-{i:05d}", seed=7, archetype="report", jumbo_rate=1.0)
                for i in range(160)]
        docs = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
        tasks = (extract_operator(docs, 8)
                 .groupBy(F.spark_partition_id().alias("task"))
                 .agg(F.count("*").alias("docs"),
                      F.collect_set("part_id").alias("part_ids"))
                 .collect())
        assert sum(t.docs for t in tasks) == 160
        assert max(t.docs for t in tasks) <= 0.30 * 160, sorted(t.docs for t in tasks)
        part_ids = [p for t in tasks for p in t.part_ids]
        assert len(part_ids) == len(set(part_ids)), tasks

    def test_no_python_row_udfs_in_plan(self, spark, corpus_path):
        # plan sanity: extraction stage is ArrowEvalPython/MapInPandas, and the
        # parquet scan prunes to the two input columns
        df = extract_operator(spark.read.parquet(corpus_path), 8)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan  # no per-row Python UDF


class TestSpanBudgetFlush:
    """The Arrow output assembler flushes on cumulative INPUT span count
    (MAX_BATCH_SPANS), so a batch of jumbo docs can never buffer an
    unbounded output column set — and splitting changes no values."""

    @staticmethod
    def _mk_batch(docs):
        import pyarrow as pa
        span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()), ("offset", pa.int32())])
        return pa.RecordBatch.from_arrays(
            [pa.array([d for d, _ in docs], pa.string()),
             pa.array([0] * len(docs), pa.int32()),
             pa.array([s for _, s in docs], pa.list_(span_t))],
            names=["doc_id", "part_id", "spans"])

    @staticmethod
    def _jumbo(doc_id, n):
        spans = [{"kind": "line", "text": "Title Of Doc" if i == 0
                  else f"body text number {i} with words",
                  "media_ref": "", "offset": i} for i in range(n)]
        return (doc_id, spans)

    def test_batches_bounded_and_lossless(self, monkeypatch):
        from pdf_extractor_spark.operators import extraction

        docs = [self._jumbo(f"j{i}", 600) for i in range(8)]
        batch = self._mk_batch(docs)

        # unsplit reference (cap far above the fixture)
        ref = list(extraction._extract_batches_arrow(iter([batch])))
        assert len(ref) == 1

        monkeypatch.setattr(extraction, "MAX_BATCH_SPANS", 1000)
        got = list(extraction._extract_batches_arrow(iter([batch])))
        # 600-span docs against a 1000-span budget -> one doc per flush
        assert len(got) == 8
        for rb in got:
            assert sum(rb.column("n_spans").to_pylist()) <= 1000
        # concatenation is value-identical to the unsplit run (proc_us is
        # a timing, excluded)
        import pyarrow as pa
        cols = ["doc_id", "part_id", "spans", "n_spans", "parse_failures"]
        a = pa.Table.from_batches(ref).select(cols).to_pylist()
        b = pa.Table.from_batches(got).select(cols).to_pylist()
        assert a == b

    def test_single_doc_over_budget_still_emits(self, monkeypatch):
        from pdf_extractor_spark.operators import extraction
        monkeypatch.setattr(extraction, "MAX_BATCH_SPANS", 100)
        batch = self._mk_batch([self._jumbo("big", 5000), self._jumbo("b2", 50)])
        got = list(extraction._extract_batches_arrow(iter([batch])))
        assert [rb.num_rows for rb in got] == [1, 1]
        assert got[0].column("doc_id").to_pylist() == ["big"]
