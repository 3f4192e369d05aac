"""Per-layer metrics, measured from outside the program.

A traced pass wraps the public functions a layer exposes (module
attributes, restored after the pass) to record spans, then reads the SQL
executions the pass ran from the status store and attributes them to the
spans they were submitted in.  Probes call one layer's public functions
in isolation on a fixed input.  Every value is ``(number, unit)``.
"""

from __future__ import annotations

import os
import statistics

from perfbench import checks, tracing

PY_RUN = "time to run Python workers"


def _skew(spark, ms: list[tracing.Metric]) -> float:
    """Slowest task over the mean task of a per-task metric (1.0 when
    Spark ran a single task and reports no breakdown).  The mean, not
    Spark's median, because with two tasks Spark's median is the max."""
    ratios = []
    for m in ms:
        n = tracing.stage_tasks(spark, m.stage) if m.stage is not None else None
        if n and m.total and m.task_max is not None:
            ratios.append(m.task_max * n / m.total)
    return max(ratios, default=1.0)


def extraction(wl, spark, out: str, tracer) -> tuple[list[str], object]:
    """A traced ``run_extraction`` pass.  Returns (problems, finish);
    ``finish()`` gives the layer metrics once the pass is timed."""
    from pdf_extractor_spark.plans import pipeline
    from pdf_extractor_spark.sources import catalog

    first = len(tracer.spans)
    before = tracing.last_execution_id(spark)
    gc0 = tracing.gc_seconds(spark)
    tracer.wrap(catalog, "read_documents", "sources.catalog.read_documents")
    tracer.wrap(catalog, "write_partitioned", "sources.catalog.write_partitioned")
    tracer.wrap(catalog, "append", "sources.catalog.append")
    tracer.wrap(pipeline, "committed_partitions",
                "plans.pipeline.committed_partitions")
    tracer.wrap(pipeline, "validate_extracted", "plans.pipeline.validate_extracted")
    try:
        with tracer.span("plans.pipeline.run_extraction") as run:
            m = pipeline.run_extraction(spark, wl.docs, out)
            problems = checks.extraction_totals(m, wl.meta)
    finally:
        tracer.unwrap_all()

    def finish() -> dict:
        gc = tracing.gc_seconds(spark) - gc0
        exs = tracing.executions_after(spark, before)
        tracer.keep(exs, gc)

        def spans(name):
            return tracer.named(name, first)

        def dur(ss):
            return sum(s.end - s.start for s in ss)

        # the extraction itself: the execution with the MapInArrow node
        main = [e for e in exs if e.find("MapInArrow", PY_RUN)]

        def tot(node, metric):
            return sum(e.total(node, metric) for e in main)

        write = spans("sources.catalog.write_partitioned")
        validated = spans("plans.pipeline.validate_extracted")
        vappend = [s for s in spans("sources.catalog.append")
                   if validated and s.start >= validated[0].end]
        py = [x for e in main for x in e.find("MapInArrow", PY_RUN)]
        return {
            "session.gc_s": (gc, "s"),
            "operators.extraction.python_run_s": (sum(x.total for x in py), "s"),
            "operators.extraction.python_task_skew": (_skew(spark, py), "ratio"),
            "operators.extraction.python_init_s": (
                tot("MapInArrow", "time to initialize Python workers")
                + tot("MapInArrow", "time to start Python workers"), "s"),
            "operators.extraction.arrow_sent_mb": (
                tot("MapInArrow", "data sent to Python workers"), "MB"),
            "operators.extraction.arrow_returned_mb": (
                tot("MapInArrow", "data returned from Python workers"), "MB"),
            "operators.extraction.shuffle_mb": (
                tot("Exchange", "shuffle bytes written"), "MB"),
            "operators.extraction.shuffle_write_s": (
                tot("Exchange", "shuffle write time"), "s"),
            "operators.extraction.scan_s": (tot("Scan parquet", "scan time"), "s"),
            "sources.catalog.write_s": (dur(write), "s"),
            "sources.catalog.output_files": (
                tot("Execute InsertIntoHadoopFsRelationCommand",
                    "number of written files"), "count"),
            "sources.catalog.read_documents_s": (
                dur(spans("sources.catalog.read_documents")), "s"),
            "plans.pipeline.sql_executions": (len(exs), "count"),
            "plans.pipeline.post_write_s": (
                run.end - write[-1].end if write else 0.0, "s"),
            "plans.pipeline.validate_s": (
                sum(e.duration for e in exs if tracing.inside(e, vappend)), "s"),
            "plans.pipeline.committed_partitions_s": (
                dur(spans("plans.pipeline.committed_partitions")), "s"),
            "plans.pipeline.driver_gap_s": (
                run.end - run.start - sum(e.duration for e in exs), "s"),
        }

    return problems, finish


def extraction_probes(wl, spark, tracer) -> dict:
    """``core.extract_document`` single-threaded on the driver over a fixed
    sample (the first input file), and ``extract_operator`` alone into the
    ``noop`` sink."""
    import pyarrow.parquet as pq
    from pdf_extractor_spark.core.extract import extract_document
    from pdf_extractor_spark.operators.extraction import extract_operator
    from pdf_extractor_spark.sources import catalog

    first = sorted(os.listdir(wl.docs))[0]
    sample = pq.read_table(os.path.join(wl.docs, first)).to_pylist()
    times, n_out = [], 0
    for _ in range(3):
        with tracer.span("core.extract_document") as s:
            n_out = sum(len(extract_document(r["spans"])[0]) for r in sample)
        times.append(s.end - s.start)
    t = statistics.median(times)
    with tracer.span("operators.extraction.extract_operator") as s:
        (extract_operator(catalog.read_documents(spark, wl.docs))
         .write.format("noop").mode("overwrite").save())
    return {"core.docs_per_s": (len(sample) / t, "1/s"),
            "core.us_per_span": (t * 1e6 / max(1, n_out), "us"),
            "operators.extraction.operator_s": (s.end - s.start, "s")}


def dedup(wl, spark, out: str, tracer) -> tuple[list[str], object]:
    """A traced ``dedup_embeddings_run`` pass.  The edge list is counted
    just before the components call, so the signature, candidate join and
    verify (otherwise run lazily inside the first components round) are
    attributed apart from the component rounds.  Returns (problems,
    finish)."""
    from pdf_extractor_spark import corpus

    first = len(tracer.spans)
    before = tracing.last_execution_id(spark)
    gc0 = tracing.gc_seconds(spark)
    cands = []

    def upstream(edges, *a, **kw):
        with tracer.span("corpus.upstream"):
            edges.count()

    tracer.wrap(corpus, "emb_band_candidates", "corpus.emb_band_candidates",
                after=lambda r: cands.append(r[0]))
    tracer.wrap(corpus, "min_label_components_fixpoint",
                "corpus.min_label_components_fixpoint", before=upstream)
    try:
        with tracer.span("corpus.dedup_embeddings_run") as run:
            m = corpus.dedup_embeddings_run(spark, wl.vecs, out)
            problems = checks.dedup_totals(m, wl.meta["planted"])
    finally:
        tracer.unwrap_all()

    def finish() -> dict:
        gc = tracing.gc_seconds(spark) - gc0
        exs = tracing.executions_after(spark, before)
        tracer.keep(exs, gc)
        comp = tracer.named("corpus.min_label_components_fixpoint", first)
        up = tracer.named("corpus.upstream", first)
        py = [(n.desc, n.metrics[PY_RUN]) for e in exs for n in e.nodes
              if n.name == "ArrowEvalPython" and PY_RUN in n.metrics]
        # the verify UDF reads the (qa, qb) candidate columns; every other
        # Arrow UDF in this plan is the band signature
        verify = sum(x.total for d, x in py if "qa#" in d)
        sig = sum(x.total for d, x in py if "qa#" not in d)
        last = tracing.last_execution_id(spark)
        with tracer.span("corpus.candidates"):
            n_cand = cands[-1].count()
        cand_s = sum(e.duration for e in tracing.executions_after(spark, last))
        return {
            "session.gc_s": (gc, "s"),
            "corpus.sig_python_s": (sig, "s"),
            "corpus.verify_python_s": (verify, "s"),
            "corpus.candidates": (n_cand, "count"),
            "corpus.candidates_s": (cand_s, "s"),
            "corpus.pairs_per_candidate": (m["pairs"] / max(1, n_cand), "ratio"),
            "corpus.components_s": (sum(s.end - s.start for s in comp), "s"),
            "corpus.cc_rounds": (m["cc_rounds"], "count"),
            "corpus.sink_s": (run.end - comp[-1].end if comp else 0.0, "s"),
            "corpus.sql_executions": (
                sum(not tracing.inside(e, up) for e in exs), "count"),
            "corpus.shuffle_mb": (
                sum(e.total("Exchange", "shuffle bytes written") for e in exs), "MB"),
            "corpus.spill_mb": (sum(e.total("", "spill size") for e in exs), "MB"),
        }

    return problems, finish


def dedup_probes(wl, spark, tracer) -> dict:
    """The band signature alone (``emb_bands_nrm_udf`` over the quantized
    input) into the ``noop`` sink."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark import corpus

    ppb = corpus.emb_lsh_geometry(wl.units)
    q = spark.read.parquet(wl.vecs).select(
        "vec_id", F.expr(corpus.QUANT_S).alias("qv"))
    with tracer.span("corpus.emb_bands_nrm_udf") as s:
        (q.select("vec_id", corpus.emb_bands_nrm_udf(ppb)(F.col("qv")).alias("bn"))
         .write.format("noop").mode("overwrite").save())
    return {"corpus.sig_s": (s.end - s.start, "s")}
