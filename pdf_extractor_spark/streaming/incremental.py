"""Incremental extraction via Structured Streaming (Trigger.AvailableNow).

The reference is strictly batch (SURVEY.md §2.13) and the north rule's
resume maps to the batch lineage protocol in :mod:`..plans.pipeline`; this
module adds the *streaming-native* idiom for continuously-arriving corpora:
a file-source stream over the input table directory, the same Arrow-batched
extraction operator, and a checkpointed parquet sink.

Semantics vs the batch path:

* **Exactly-once per input file.** The file source tracks processed files
  in the checkpoint WAL; re-running with the same checkpoint processes
  only files that arrived since the last run (the streaming analog of the
  lineage anti-join).
* **Same operator, same results.** The extraction stage is the batch
  job's ``mapInArrow`` loop, so per-doc outputs are bit-identical to batch —
  verified by tests/test_streaming.py against the pure-Python oracle.
* **Stateless stage ⇒ no watermarks needed.** Extraction is per-document;
  there is no cross-row state, so AvailableNow processes the backlog in
  bounded micro-batches and terminates.  ``maxFilesPerTrigger`` bounds
  micro-batch memory at web scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.extraction import (INPUT_SCHEMA, OUTPUT_SCHEMA,
                                    _extract_batches_arrow, with_partition_id)


def incremental_extraction(
    spark: SparkSession,
    input_location: str,
    output_dir: str,
    num_partitions: int = 64,
    max_files_per_trigger: int | None = None,
) -> None:
    """Process all input files not yet seen by this checkpoint, then stop.

    ``output_dir`` gets ``extracted/`` (partitioned parquet, same layout as
    the batch job) and ``_checkpoint/`` (file-source WAL + sink commit log).
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_location)

    salted = with_partition_id(docs.select("doc_id", "spans"), num_partitions)
    extracted = salted.mapInArrow(_extract_batches_arrow, schema=OUTPUT_SCHEMA)

    q = (
        extracted.writeStream
        .format("parquet")
        .option("path", f"{output_dir}/extracted")
        .option("checkpointLocation", f"{output_dir}/_checkpoint")
        .partitionBy("part_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
