"""The distributed extraction operator: Arrow-batched, shuffle-minimal.

Logical plan::

    read documents (doc_id, spans)
      -> deterministic partition assignment (hash + jumbo isolation)   [1 shuffle]
      -> mapInArrow(_extract_batches_arrow)                            [pipelined]
      -> ordered output spans + per-doc metrics

Design notes for 10^12-document scale (BASELINE.json north_rule):

* **One shuffle.** Everything per-document happens inside a single
  ``mapInArrow`` stage; the only exchange is the AQE REBALANCE on
  ``part_id`` that spreads documents across tasks.
* **Skew salting.** ``part_id`` is a pure function of ``doc_id`` (so the
  assignment is reproducible across runs — required for checkpoint
  resume), but jumbo documents (span count >= JUMBO_SPANS) are isolated
  into a *separate* partition-id space so a giant PDF never queues
  behind — or OOMs with — a full batch of normal docs.  No global
  window / driver collect is involved, so the scheme costs the same at
  10^12 docs as at 10^3.
* **Buckets for AQE to pack.** The ids span ``[0, 2P)`` and the
  REBALANCE starts from ``2P`` hash buckets, not from the session's
  (smaller) shuffle-partition count.  With fewer buckets than ids,
  Murmur3 alone decides which ids share a task, the same way on every
  run: at 2 shuffle partitions the ids 0..3 split 1:3, and AQE does not
  split a bucket below the advisory size, so one core extracts three
  quarters of the docs.  With ``2P`` buckets most hold one id; AQE
  coalesces adjacent buckets by bytes toward total / parallelism, so the
  tasks come out near-equal, and each id still lands in one task (one
  output file per id) unless AQE splits a bucket over the advisory size.
* **Bounded batches.** ``spark.sql.execution.arrow.maxRecordsPerBatch``
  (session.py) caps docs per Arrow batch, and the output assembler
  additionally flushes every ``MAX_BATCH_SPANS`` cumulative input spans,
  so executor memory stays bounded even when a 10^6-span pathological
  doc lands in a batch with 63 siblings.
* **No per-row Python UDFs** (input_hint mandate): the per-doc heuristics
  run inside the Arrow-batched iterator, sharing
  :mod:`pdf_extractor_spark.core` verbatim with the oracle.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.extract import extract_document

SPAN_STRUCT = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
INPUT_SCHEMA = f"doc_id string, spans {SPAN_STRUCT}"
OUTPUT_SCHEMA = (
    f"doc_id string, part_id int, spans {SPAN_STRUCT}, "
    "n_spans int, parse_failures int, proc_us long"
)

JUMBO_SPANS = 2000          # input spans; above this a doc is "jumbo"
DEFAULT_DOCS_PER_PARTITION = 512

# Output-batch assembly cap in CUMULATIVE INPUT SPANS: the Arrow row cap
# (session.py ARROW_MAX_RECORDS=64) bounds docs per incoming batch, but 64
# rows of a pathological 10^6-span doc each would still buffer ~64M spans
# in the output columns before a single yield.  Flushing the assembled
# output every MAX_BATCH_SPANS input spans bounds the builder's memory by
# max(MAX_BATCH_SPANS, largest single doc) regardless of row count — a
# 64-doc batch of normal (<2000-span) docs never splits, so the hot path
# is unchanged.
MAX_BATCH_SPANS = 131_072


def num_partitions_for(n_docs: int, cores: int) -> int:
    """Size the partition count: enough for parallelism, small enough that a
    partition's docs fit an executor's memory at the target scale."""
    return max(2 * cores, (n_docs + DEFAULT_DOCS_PER_PARTITION - 1) // DEFAULT_DOCS_PER_PARTITION)


def with_partition_id(df: DataFrame, num_partitions: int) -> DataFrame:
    """Assign the deterministic ``part_id`` (resume unit + output partition).

    Normal docs: ``pmod(xxhash64(doc_id), P)``.  Jumbo docs: isolated id
    space ``P + pmod(xxhash64(doc_id), P)`` so heavy rows never share a
    partition with a full quota of normal rows (skew defusal without any
    global ordering step).
    """
    p = F.lit(num_partitions)
    h = F.pmod(F.xxhash64("doc_id"), p).cast("int")
    return df.withColumn(
        "part_id",
        F.when(F.size("spans") >= JUMBO_SPANS, (h + p).cast("int")).otherwise(h),
    )


def _extract_batches_arrow(it):
    """Arrow-native batch loop: same per-doc extraction, but the output
    ``list<struct>`` column is assembled directly from flat Arrow arrays
    (values + offsets buffer) instead of a pandas object column of
    list-of-dicts — measured ~43%% of single-core wall was this
    (de)serialization, and the columnar build removes most of it."""
    import pyarrow as pa

    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    buf: dict = {}

    def _reset():
        buf.update(doc_ids=[], part_ids=[], kinds=[], texts=[], refs=[],
                   offs=[], list_offsets=[0], n_spans=[], fails=[], procs=[],
                   in_spans=0)

    def _flush():
        struct_arr = pa.StructArray.from_arrays(
            [pa.array(buf["kinds"], pa.string()),
             pa.array(buf["texts"], pa.string()),
             pa.array(buf["refs"], pa.string()),
             pa.array(buf["offs"], pa.int32())],
            fields=list(span_t))
        spans_arr = pa.ListArray.from_arrays(
            pa.array(buf["list_offsets"], pa.int32()), struct_arr)
        rb = pa.RecordBatch.from_arrays(
            [pa.array(buf["doc_ids"], pa.string()),
             pa.array(buf["part_ids"], pa.int32()),
             spans_arr,
             pa.array(buf["n_spans"], pa.int32()),
             pa.array(buf["fails"], pa.int32()),
             pa.array(buf["procs"], pa.int64())],
            names=["doc_id", "part_id", "spans", "n_spans", "parse_failures",
                   "proc_us"])
        _reset()
        return rb

    _reset()
    for batch in it:
        doc_ids = batch.column(batch.schema.get_field_index("doc_id")).to_pylist()
        part_ids = batch.column(batch.schema.get_field_index("part_id")).to_pylist()
        spans_in = batch.column(batch.schema.get_field_index("spans")).to_pylist()
        for doc_id, part_id, spans in zip(doc_ids, part_ids, spans_in):
            # span-budget flush BEFORE admitting the next doc: a jumbo doc
            # never shares the output buffer with a full batch of siblings
            if buf["doc_ids"] and buf["in_spans"] + len(spans) > MAX_BATCH_SPANS:
                yield _flush()
            t0 = time.perf_counter_ns()
            out_spans, failures = extract_document(spans)
            buf["procs"].append((time.perf_counter_ns() - t0) // 1000)
            buf["kinds"].extend([s["kind"] for s in out_spans])
            buf["texts"].extend([s["text"] for s in out_spans])
            buf["refs"].extend([s["media_ref"] for s in out_spans])
            buf["offs"].extend([s["offset"] for s in out_spans])
            buf["list_offsets"].append(len(buf["kinds"]))
            buf["n_spans"].append(len(out_spans))
            buf["fails"].append(failures)
            buf["doc_ids"].append(doc_id)
            buf["part_ids"].append(int(part_id))
            buf["in_spans"] += len(spans)
        # one output batch per input batch boundary (plus any intra-batch
        # budget flushes above), so the stage stays pipelined
        if buf["doc_ids"]:
            yield _flush()


def extract_operator(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """documents df -> extracted df (see OUTPUT_SCHEMA).

    ``df`` must have (doc_id, spans).  Exactly one shuffle (the explicit
    repartition on ``part_id``); extraction itself is map-side only.
    """
    if num_partitions is None:
        cores = df.sparkSession.sparkContext.defaultParallelism
        num_partitions = 4 * cores
    salted = with_partition_id(df.select("doc_id", "spans"), num_partitions)
    # AQE REBALANCE by part_id: one exchange, no range-sampling pass (a
    # repartitionByRange would decode the whole spans column a second time
    # just to sample split points).  2P initial buckets, as many as there
    # are possible part_ids, so AQE packs the tasks by bytes instead of
    # Murmur3 fixing them (module notes, "Buckets for AQE to pack").  AQE may split an
    # oversized bucket — safe, because the extraction is per-doc and the
    # partitioned write just emits one more file into that part_id's
    # directory
    balanced = salted.hint("rebalance", 2 * num_partitions, "part_id")
    return balanced.mapInArrow(_extract_batches_arrow, schema=OUTPUT_SCHEMA)
