"""End-to-end extraction job: read → salt → extract → write + lineage,
with idempotent checkpoint resume (BASELINE.json north_rule).

Commit protocol (SURVEY.md §4.3):

* ``part_id`` is a pure function of ``doc_id`` and the partition count,
  so the work units are stable across runs.
* Output is written partitioned by ``part_id`` with dynamic partition
  overwrite → re-processing a partition replaces exactly its files
  (idempotent).
* One typed lineage row per partition per run, ``(source_snapshot,
  partition_id, run_seq, doc_count, span_count, parse_failures, wall_ms,
  violations, status='committed')``, is appended only *after* the data
  write succeeds.  One aggregate over the written output read back (never
  a re-run of extraction) computes its counts and its contract
  validation, so a lineage row implies durable, checked data.
* Resume = anti-filter pending partitions against committed lineage.  The
  latest row per partition (highest ``run_seq``) describes the data on
  disk, and run totals are summed over those rows.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_operator, num_partitions_for, with_partition_id
from ..sources import catalog

LINEAGE_SUBDIR = "lineage"
EXTRACTED_SUBDIR = "extracted"

# closed output-kind set (core/extract.py contract; FIXTURES.md §5)
OUTPUT_KINDS = ("title", "h1", "h2", "h3", "h4", "body", "media")


def validate_extracted(df: DataFrame) -> DataFrame:
    """Schema/contract validation over written output rows — the analog of
    the reference's JSON-Schema pass over every output file
    (``1A/validate_outputs.py:10-22``), expressed as array predicates so
    one column-pruned scan validates 10^12 docs with no shuffle beyond a
    tiny per-partition count.

    A row is valid iff EITHER it is an error record (parse_failures=1,
    empty spans) OR: spans non-empty, title first, offsets dense 0..n-1,
    every kind in the closed set, and n_spans consistent.  Returns
    (part_id, docs_checked, violations) plus the partition's lineage sums
    over written rows: doc_count, span_count (Σ n_spans), parse_failures
    and wall_ms (Σ proc_us / 1000).

    Relational form: posexplode + per-span scalar predicates + a two-level
    aggregate, NOT per-row array lambdas (forall/transform/sequence) —
    higher-order functions evaluate interpreted and allocation-heavy, and
    measured on a 13M-span output the lambda form ran 7.5 s on 2 cores
    but 11.1 s on 8 (allocator contention — it anti-scales), while this
    form stays inside whole-stage codegen.  The explode never shuffles:
    map-side partial aggregation collapses each doc's spans inside its
    scan task (a doc lives in exactly one file), so only per-doc partials
    cross the exchange.
    """
    kind_set = ", ".join(f"'{k}'" for k in OUTPUT_KINDS)
    ex = (df.select(
        "part_id", "doc_id", "n_spans", "parse_failures", "proc_us",
        # strip span text BEFORE the explode: only (kind, offset) matter
        # to the contract, and 13M exploded rows carrying body text would
        # dominate the stage's bytes.  arrays_zip of the extracted field
        # arrays stays in codegen (a lambda transform would not)
        F.arrays_zip(F.col("spans.kind").alias("kind"),
                     F.col("spans.offset").alias("offset")).alias("ko"))
        .select("part_id", "doc_id", "n_spans", "parse_failures", "proc_us",
                F.size("ko").alias("sz"),
                F.posexplode_outer("ko").alias("pos", "s")))
    span_ok = (F.col("s.offset") == F.col("pos")) \
        & F.expr(f"s.kind IN ({kind_set})") \
        & ((F.col("pos") != 0) | (F.col("s.kind") == "title"))
    # NULL kind/offset makes span_ok NULL, and `when(cond)` treats NULL as
    # false — coalesce so a NULL field counts as a violation, as it did in
    # the array-predicate form (where forall/== propagated NULL to invalid)
    span_bad = F.col("pos").isNotNull() & ~F.coalesce(span_ok, F.lit(False))
    # each written row explodes to exactly one row with pos 0 (or NULL, for
    # empty spans): the lineage sums count rows over it, not doc_id groups
    row_mark = F.col("pos").isNull() | (F.col("pos") == 0)
    per_doc = (ex.groupBy("part_id", "doc_id")
               .agg(F.first("n_spans").alias("n_spans"),
                    F.first("parse_failures").alias("parse_failures"),
                    F.first("sz").alias("sz"),
                    F.sum(F.when(span_bad, 1).otherwise(0)).alias("bad_spans"),
                    F.count_if(row_mark).alias("rows"),
                    *(F.sum(F.when(row_mark, F.col(c))).alias(f"row_{c}")
                      for c in ("n_spans", "parse_failures", "proc_us"))))
    consistent = F.col("n_spans") == F.col("sz")
    is_error_rec = (F.col("parse_failures") == 1) & (F.col("sz") == 0)
    valid = consistent & (is_error_rec | ((F.col("sz") >= 1) & (F.col("bad_spans") == 0)))
    return (per_doc.withColumn("ok", valid)
            .groupBy("part_id")
            .agg(F.count("*").alias("docs_checked"),
                 F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("violations"),
                 F.sum("rows").alias("doc_count"),
                 F.sum("row_n_spans").cast("long").alias("span_count"),
                 F.sum("row_parse_failures").cast("long").alias("parse_failures"),
                 (F.sum("row_proc_us") / F.lit(1000)).cast("long").alias("wall_ms")))


def committed_partitions(spark: SparkSession, lineage_loc: str) -> dict[int, int]:
    """Committed partition ids, each mapped to its latest ``run_seq``; empty
    while no lineage has been written at ``lineage_loc``."""
    if "://" not in lineage_loc and not os.path.exists(lineage_loc):
        return {}
    try:
        lin = spark.read.parquet(lineage_loc)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return {}
    rows = lin.groupBy("partition_id").agg(F.max("run_seq").alias("seq")).collect()
    return {r.partition_id: r.seq for r in rows}


def run_extraction(
    spark: SparkSession,
    input_location: str,
    output_dir: str,
    num_partitions: int | None = None,
    resume: bool = True,
    limit_partitions: int | None = None,
    snapshot: str | None = None,
) -> dict:
    """Run (or resume) the extraction job.  Returns run metrics.

    ``limit_partitions`` is a test/chaos hook: process only part_ids
    below the limit, simulating a run killed after K partitions.
    """
    t_start = time.perf_counter()
    out_loc = f"{output_dir}/{EXTRACTED_SUBDIR}"
    lin_loc = f"{output_dir}/{LINEAGE_SUBDIR}"
    snapshot = snapshot or catalog.snapshot_id()

    docs = catalog.read_documents(spark, input_location)
    if num_partitions is None:
        n_docs = docs.count()  # parquet row-count from footer metadata: cheap
        num_partitions = num_partitions_for(n_docs, spark.sparkContext.defaultParallelism)

    salted = with_partition_id(docs.select("doc_id", "spans"), num_partitions)

    # the one pre-write lineage read: resume's skip set, and the run
    # sequence even when not resuming (a re-extracted partition's new row
    # must outrank its old one)
    committed = committed_partitions(spark, lin_loc)
    run_seq = max(committed.values(), default=0) + 1
    skip = list(committed) if resume else []
    pending = salted
    if skip:
        pending = pending.filter(~F.col("part_id").isin(skip))
    if limit_partitions is not None:
        pending = pending.filter(F.col("part_id") < limit_partitions)

    extracted = extract_operator(pending, num_partitions)
    catalog.write_partitioned(extracted, out_loc, ["part_id"], overwrite_partitions=True)

    # one aggregate over the *written* output read back (span text is never
    # touched) gives each new partition's counts and contract validation;
    # its row is appended only after the durable write
    out = spark.read.parquet(out_loc)
    newly = out.filter(~F.col("part_id").isin(skip)) if skip else out
    lineage = validate_extracted(newly).select(
        F.lit(snapshot).alias("source_snapshot"),
        F.col("part_id").cast("int").alias("partition_id"),
        F.lit(run_seq).cast("long").alias("run_seq"),
        "doc_count", "span_count", "parse_failures", "wall_ms",
        F.col("violations").cast("long").alias("violations"),
        F.lit("committed").alias("status"))
    catalog.append(lineage, lin_loc)

    # totals over the latest row per partition: that row describes the data
    # on disk, so a re-extracted partition counts once, and a committed
    # partition (never validated again) keeps its violations until it is
    # re-extracted clean
    cols = ("run_seq", "doc_count", "span_count", "parse_failures", "violations")
    stats = (spark.read.parquet(lin_loc).groupBy("partition_id")
             .agg(F.max_by(F.struct(*cols), "run_seq").alias("r")).select("r.*")
             .agg(F.count("*").alias("parts"),
                  F.sum("doc_count").alias("docs"),
                  F.sum(F.when(F.col("run_seq") == run_seq, F.col("doc_count")))
                  .alias("processed"),
                  F.sum("span_count").alias("spans"),
                  F.sum("parse_failures").alias("failures"),
                  F.sum("violations").alias("violations")).collect()[0])
    wall_s = time.perf_counter() - t_start
    catalog.write_manifest(output_dir, {
        "input": input_location, "snapshot": snapshot,
        "num_partitions": num_partitions, "resume": resume,
        "committed_partitions": int(stats.parts),
    })
    return {
        "snapshot": snapshot,
        "num_partitions": num_partitions,
        "committed_partitions": int(stats.parts),
        "docs_total_committed": int(stats.docs or 0),
        "docs_processed": int(stats.processed or 0),
        "spans_total": int(stats.spans or 0),
        "parse_failures": int(stats.failures or 0),
        "validation_violations": int(stats.violations or 0),
        "wall_s": wall_s,
        "skipped_committed": len(skip),
    }


def read_extracted(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/{EXTRACTED_SUBDIR}")


def read_lineage(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(f"{output_dir}/{LINEAGE_SUBDIR}")
