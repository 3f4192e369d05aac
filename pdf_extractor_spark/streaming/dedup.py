"""Streaming near-duplicate detection against a growing signature index.

The streaming-native composition of the MinHash-LSH core in
:mod:`..corpus` that the registry's ``dedup_minhash_lsh`` and
``dedup_incremental`` also run (``minhash_signatures`` →
``minhash_bands`` → ``_band_probe`` / ``_band_pairs`` →
``_jaccard_verified``): documents arrive continuously, each micro-batch
is signed ONCE, probed against the **persisted band index of everything
ingested before it** and within itself, and only first-occurrence docs
extend the index.  Per-batch work scales with the batch, not the corpus.

Exactly-once mechanics:

* The file source + checkpoint WAL give each input file to exactly one
  micro-batch (same as :mod:`.incremental`).
* ``foreachBatch`` may re-run a batch after a crash, so every write is
  made idempotent by landing in a ``batch_id=N`` partition directory with
  overwrite semantics — a replayed batch overwrites its own output
  instead of appending duplicates.
* The index a batch probes is every row committed with ``batch_id < N``
  — exactly the set durable before this batch first ran.

Index COMPACTION (bounded probe locations): without it, batch N probes
N−1 ``batch_id=*`` directories — unbounded small files, cumulative
O(N²) file opens at steady state.  Every ``compact_every`` batches the
accumulated tail partitions are rewritten into ONE compacted generation:

* ``catalog.write_bucketed`` lands two external tables under
  ``{state}/compacted/upto={N}/`` — ``bands`` (exploded, bucketed by
  ``band_hash``, read back as the probe's ``bucket`` key, so with a
  persistent metastore the index side is pre-shuffled) and ``sigs``
  (bucketed by ``doc_id`` for the verify lookup).  Rows keep their
  ``batch_id`` so a replaying batch can still exclude its own rows.
* Generations are crash-safe AND replay-idempotent: the new generation
  is written to a NEW directory, an empty ``_COMMITTED`` flag is
  created inside it only after both tables are durable, and only then
  are the folded tail partitions and older generations removed.
  Readers take the highest committed ``upto=``; half-written
  generations (no flag) are invisible.  A replayed batch whose
  compaction already committed (``old_upto >= batch_id``) is a no-op —
  it never rewrites the generation it would be reading from.
* All state manipulation (listing tails, the commit flag, cleanup)
  goes through the Hadoop FileSystem API (``catalog.fs_*``), so
  ``state_dir`` may live on HDFS/S3A exactly like every Spark-written
  path in this module — a driver-local ``os`` call would silently see
  an empty index there and pass every duplicate through.
* Steady-state probe cost: 1 compacted generation + < ``compact_every``
  tail directories, REGARDLESS of total batch count
  (tests/test_streaming.py asserts both the bound and decision parity
  with an uncompacted run).

Decision semantics (deterministic): a doc is a duplicate iff some INDEXED
doc, or some smaller-``doc_id`` doc in the same micro-batch, has shingle
Jaccard >= t with it; ``dup_of`` is the smallest such doc_id.  Chains
(a ~ b ~ c without a ~ c) are left to the offline ``dedup_components``
pass, as in the batch path.
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, LongType, StringType, StructField,
                               StructType)

from ..corpus import (_band_pairs, _band_probe, _jaccard_verified,
                      minhash_bands, minhash_signatures)
from ..sources import catalog

INPUT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])

_SIG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("shset", ArrayType(StringType())),
    StructField("bands", ArrayType(StringType())),
])

DEFAULT_COMPACT_EVERY = 8
_N_BUCKETS = 16


# --- compacted-store plumbing ------------------------------------------------
# All listing/flagging/cleanup via catalog.fs_* (Hadoop FileSystem): works on
# HDFS/S3A/local alike, and a genuinely unreachable store raises from the JVM
# instead of silently reading as "empty index".

def _gen_dir(state_dir: str, upto: int) -> str:
    return f"{state_dir}/compacted/upto={upto}"


def _dir_num(name: str, prefix: str) -> int | None:
    """``prefix=<digits>`` → int, else None.  Store listings can contain
    entries the pipeline never wrote (temp/editor artifacts like
    ``upto=5.tmp``, lost+found, _SUCCESS); an unguarded int() on those
    would permanently wedge every later micro-batch and compaction."""
    if not name.startswith(prefix + "="):
        return None
    tail = name[len(prefix) + 1:]
    return int(tail) if tail.isdigit() else None


def _read_marker(spark: SparkSession, state_dir: str) -> dict | None:
    """Highest COMMITTED generation, discovered from the store itself:
    the committed set can only be mutated by creating a ``_COMMITTED``
    flag after durable table writes, so there is no marker file to
    atomically replace (and no rename-atomicity assumption on S3)."""
    best = -1
    for name in catalog.fs_list_names(spark, f"{state_dir}/compacted"):
        upto = _dir_num(name, "upto")
        if upto is not None and upto > best and catalog.fs_exists(
                spark, f"{_gen_dir(state_dir, upto)}/_COMMITTED"):
            best = upto
    if best < 0:
        return None
    gen = _gen_dir(state_dir, best)
    return {"upto": best, "bands_path": f"{gen}/bands",
            "sigs_path": f"{gen}/sigs"}


def _tail_batch_dirs(spark: SparkSession, state_dir: str, lo_exclusive: int,
                     hi_exclusive: int) -> list[tuple[int, str]]:
    """Tail index partitions with lo < batch_id < hi, by DIRECT directory
    listing — never a recursive scan of the whole index tree."""
    root = f"{state_dir}/index"
    out = []
    for name in catalog.fs_list_names(spark, root):
        b = _dir_num(name, "batch_id")
        if b is not None and lo_exclusive < b < hi_exclusive:
            out.append((b, f"{root}/{name}"))
    return sorted(out)


def _load_index(spark: SparkSession, state_dir: str,
                batch_id: int) -> tuple[DataFrame, DataFrame, int]:
    """(exploded band index, signature lookup, n_locations) covering every
    row committed with batch_id < ``batch_id``.  n_locations counts the
    physical places probed: <=1 compacted generation (+its 2 tables) and
    < compact_every tail dirs — bounded regardless of total batch count."""
    marker = _read_marker(spark, state_dir)
    upto = marker["upto"] if marker else -1
    sigs = spark.createDataFrame([], _SIG_SCHEMA)
    bands, sigs = minhash_bands(sigs), sigs.select("doc_id", "shset")
    n_loc = 0
    if marker:
        # batch_id guards: <= upto (ignore a half-written newer generation)
        # and < current (a replayed batch must not see its own rows)
        live = (F.col("batch_id") <= upto) & (F.col("batch_id") < batch_id)
        cb = (spark.read.parquet(marker["bands_path"]).filter(live)
              .select("doc_id", "band_idx",
                      F.col("band_hash").alias("bucket")))
        cs = (spark.read.parquet(marker["sigs_path"]).filter(live)
              .select("doc_id", "shset"))
        bands, sigs = bands.unionByName(cb), sigs.unionByName(cs)
        n_loc += 2
    tail = _tail_batch_dirs(spark, state_dir, upto, batch_id)
    if tail:
        tdf = spark.read.parquet(*[p for _, p in tail])
        bands = bands.unionByName(minhash_bands(tdf))
        sigs = sigs.unionByName(tdf.select("doc_id", "shset"))
        n_loc += len(tail)
    return bands, sigs, n_loc


def _table_name(state_dir: str, upto: int, which: str) -> str:
    h = hashlib.md5(state_dir.encode()).hexdigest()[:10]
    return f"dedup_idx_{h}_u{upto}_{which}"


def _compact(spark: SparkSession, state_dir: str, batch_id: int) -> None:
    """Fold compacted(old) ∪ tail(<= batch_id) into generation
    upto=batch_id.  Write-new → create commit flag → delete-old, so every
    crash point replays consistently."""
    marker = _read_marker(spark, state_dir)
    old_upto = marker["upto"] if marker else -1
    if old_upto >= batch_id:
        # replayed micro-batch whose compaction already committed (crash
        # landed between the flag and the stream's WAL commit): re-running
        # would overwrite the committed generation WHILE reading it —
        # wedging the stream or truncating the index.  The generation is
        # durable; stale tail dirs a replay re-wrote (batch_id <= upto)
        # are ignored by _load_index and swept by the next compaction.
        return
    gen_dir = _gen_dir(state_dir, batch_id)
    # gather all sig rows <= batch_id WITH their batch_id (basePath read
    # recovers the partition column from the tail dirs)
    parts = [p for _, p in
             _tail_batch_dirs(spark, state_dir, old_upto, batch_id + 1)]
    srcs = []
    if marker:
        srcs.append(spark.read.parquet(marker["sigs_path"])
                    .filter(F.col("batch_id") <= old_upto)
                    .select("doc_id", "shset", "bands", "batch_id"))
    if parts:
        srcs.append(spark.read.option("basePath", f"{state_dir}/index")
                    .parquet(*parts)
                    .select("doc_id", "shset", "bands",
                            F.col("batch_id").cast("long").alias("batch_id")))
    if not srcs:
        return
    allsigs = functools.reduce(DataFrame.unionByName, srcs)
    bands = (minhash_bands(allsigs, "batch_id")
             .withColumnRenamed("bucket", "band_hash"))
    catalog.write_bucketed(bands, _table_name(state_dir, batch_id, "bands"),
                           "band_hash", _N_BUCKETS, path=f"{gen_dir}/bands")
    # sigs (doc_id, shset, bands, batch_id) keep their bands array too: the
    # NEXT compaction re-folds this generation and must be able to rebuild
    # the exploded band table
    catalog.write_bucketed(allsigs, _table_name(state_dir, batch_id, "sigs"),
                           "doc_id", _N_BUCKETS, path=f"{gen_dir}/sigs")
    # commit flag = commit point (created only after both tables are
    # durable; readers ignore any generation without it)
    catalog.fs_touch(spark, f"{gen_dir}/_COMMITTED")
    # fold-source cleanup (safe: the new generation is durable).  Sweep
    # EVERY older generation, not just the immediate predecessor — a
    # crash mid-cleanup on a previous compaction may have left orphans.
    for _, p in _tail_batch_dirs(spark, state_dir, -1, batch_id + 1):
        catalog.fs_delete(spark, p)
    for name in catalog.fs_list_names(spark, f"{state_dir}/compacted"):
        j = _dir_num(name, "upto")
        if j is not None and j != batch_id:
            catalog.fs_delete(spark, _gen_dir(state_dir, j))
            for which in ("bands", "sigs"):
                catalog.drop_table(spark, _table_name(state_dir, j, which))


def _process_batch(batch_df: DataFrame, batch_id: int, state_dir: str,
                   threshold_pct: int, compact_every: int | None) -> None:
    spark = batch_df.sparkSession
    sigs = minhash_signatures(batch_df.select("doc_id", "text")).persist()
    ix_bands, ix_sigs, _ = _load_index(spark, state_dir, batch_id)
    bx = minhash_bands(sigs)
    # candidates vs the stored index, and vs smaller ids of this batch (the
    # self-join keeps index_doc < new_doc, so each pair is verified once)
    vs_index = _band_probe(bx, ix_bands)
    vs_batch = _band_pairs(bx, "doc_id", "index_doc", "new_doc")
    dup_of = (_jaccard_verified(vs_index, sigs, ix_sigs, "new_doc",
                                "index_doc", threshold_pct)
              .unionByName(_jaccard_verified(vs_batch, sigs, sigs, "new_doc",
                                             "index_doc", threshold_pct))
              .select("new_doc", "index_doc")
              .groupBy("new_doc")
              .agg(F.min("index_doc").alias("dup_of")))

    # one decision row per INGESTED doc: docs below the 3-word signature
    # floor can never match anything (no shingles) — they are recorded
    # is_dup=false here and never enter the index
    decisions = (batch_df.select("doc_id").distinct()
                 .join(dup_of, F.col("doc_id") == F.col("new_doc"), "left")
                 .select("doc_id",
                         F.col("dup_of").isNotNull().alias("is_dup"),
                         "dup_of"))
    # idempotent: a replayed batch overwrites its own partition dirs
    decisions.write.mode("overwrite").parquet(
        f"{state_dir}/decisions/batch_id={batch_id}")
    (sigs.join(dup_of, sigs.doc_id == dup_of.new_doc, "left_anti")
     .write.mode("overwrite")
     .parquet(f"{state_dir}/index/batch_id={batch_id}"))
    sigs.unpersist()
    if compact_every and (batch_id + 1) % compact_every == 0:
        _compact(spark, state_dir, batch_id)


def streaming_dedup(
    spark: SparkSession,
    input_location: str,
    state_dir: str,
    threshold_pct: int = 50,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = DEFAULT_COMPACT_EVERY,
) -> None:
    """Dedupe all input files not yet seen by this checkpoint, then stop.

    ``state_dir`` gets ``index/`` (tail signature partitions, one per
    micro-batch since the last compaction), ``compacted/`` (the bucketed
    generation store; ``upto=N/_COMMITTED`` flags), ``decisions/`` (one
    row per ingested doc: is_dup + dup_of), and ``_checkpoint/`` (file-
    source WAL).  ``compact_every=None`` disables compaction (probe cost
    then grows with batch count — test/debug only).
    """
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_location)
    q = (docs.writeStream
         .foreachBatch(lambda df, bid:
                       _process_batch(df, bid, state_dir, threshold_pct,
                                      compact_every))
         .option("checkpointLocation", f"{state_dir}/_checkpoint")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
