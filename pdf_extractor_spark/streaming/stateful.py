"""Custom stateful streaming operator: running per-partition corpus tallies
via ``applyInPandasWithState`` (SURVEY.md §2.13; the driver brief's
"custom stateful operators" pattern).

The batch pipeline's lineage table is write-once-per-run; this is its
streaming-native analog — per-``part_id`` running totals (docs, spans,
parse failures) that ACCUMULATE across micro-batches and survive restarts
through the checkpoint state store.  State size is O(num_partitions) —
three longs per partition id — so the operator is safe at any corpus
scale; the per-batch work is one shuffle on ``part_id`` (the same key the
extraction output is already salted by).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.extraction import (INPUT_SCHEMA, OUTPUT_SCHEMA,
                                    _extract_batches_arrow, with_partition_id)

STATS_SCHEMA = ("part_id int, docs_total long, spans_total long, "
                "failures_total long")
STATE_SCHEMA = "docs long, spans long, fails long"


def _update_stats(key: tuple, pdfs: Iterator[pd.DataFrame],
                  state: GroupState) -> Iterator[pd.DataFrame]:
    docs, spans, fails = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        docs += len(pdf)
        spans += int(pdf["n_spans"].sum())
        fails += int(pdf["parse_failures"].sum())
    state.update((docs, spans, fails))
    yield pd.DataFrame([(key[0], docs, spans, fails)],
                       columns=["part_id", "docs_total", "spans_total",
                                "failures_total"])


def stateful_partition_stats(
    spark: SparkSession,
    input_location: str,
    num_partitions: int = 64,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of running per-partition tallies.

    Each micro-batch emits one updated row per ``part_id`` it touched
    (outputMode ``update``); callers attach the sink and trigger.  The
    extraction stage is the identical shared per-doc chain, so the tallies
    agree exactly with batch lineage for the same input.
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_location)
    salted = with_partition_id(docs.select("doc_id", "spans"), num_partitions)
    extracted = salted.mapInArrow(_extract_batches_arrow, schema=OUTPUT_SCHEMA)
    return (
        extracted.select("part_id", "n_spans", "parse_failures")
        .groupBy("part_id")
        .applyInPandasWithState(
            _update_stats,
            outputStructType=STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
