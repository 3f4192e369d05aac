"""Streaming incremental extraction: oracle parity + exactly-once file
tracking across restarts (streaming analog of the t3 resume test)."""

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark.gen import gen_corpus, gen_doc
from pdf_extractor_spark.oracle import run_oracle
from pdf_extractor_spark.streaming.incremental import incremental_extraction

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])


def write_rows(rows, path):
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
        "spans": pa.array([r["spans"] for r in rows], pa.list_(SPAN_T)),
    })
    pq.write_table(table, path)


def collect_spans(spark, out_dir):
    df = spark.read.parquet(f"{out_dir}/extracted").select("doc_id", "spans")
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                      for s in r["spans"]]
        for r in df.collect()
    }


def test_streaming_incremental_parity_and_exactly_once(spark, tmp_path):
    inp = tmp_path / "docs"
    out = tmp_path / "out"
    inp.mkdir()

    batch1 = gen_corpus(60, seed=7)
    write_rows(batch1, str(inp / "b1.parquet"))

    incremental_extraction(spark, str(inp), str(out), num_partitions=8)
    got1 = collect_spans(spark, str(out))
    golden1 = {d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp]
               for d, sp in run_oracle(batch1).items()}
    assert got1 == golden1

    # new file arrives; rerun with the SAME checkpoint → only new docs added,
    # existing rows untouched (no duplicates: exactly-once per input file)
    batch2 = [gen_doc(f"late-{i:04d}", seed=7) for i in range(20)]
    write_rows(batch2, str(inp / "b2.parquet"))
    incremental_extraction(spark, str(inp), str(out), num_partitions=8)

    got2 = collect_spans(spark, str(out))
    golden2 = dict(golden1)
    golden2.update({d: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in sp]
                    for d, sp in run_oracle(batch2).items()})
    assert got2 == golden2
    assert len(got2) == 80

    # idempotent: nothing new → no change
    incremental_extraction(spark, str(inp), str(out), num_partitions=8)
    assert collect_spans(spark, str(out)) == golden2


def test_stateful_partition_stats_accumulate(spark, tmp_path):
    """applyInPandasWithState tallies accumulate across separate runs via
    the checkpoint state store, and agree with a batch recount."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.operators.extraction import with_partition_id
    from pdf_extractor_spark.streaming.stateful import stateful_partition_stats

    inp = tmp_path / "docs"
    ckpt = str(tmp_path / "ckpt")
    inp.mkdir()

    def run(_name):
        updates = []
        stats = stateful_partition_stats(spark, str(inp), num_partitions=4)
        q = (stats.writeStream
             .foreachBatch(lambda bdf, _eid: updates.extend(bdf.collect()))
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()
        # latest update per part_id wins
        latest = {}
        for r in updates:
            latest[r.part_id] = (r.docs_total, r.spans_total, r.failures_total)
        return latest

    write_rows(gen_corpus(40, seed=11), str(inp / "b1.parquet"))
    first = run("stats1")
    assert sum(v[0] for v in first.values()) == 40

    # second run, same checkpoint: only the new file is processed, but
    # emitted totals INCLUDE the restored state from run 1
    more = [gen_doc(f"extra-{i:04d}", seed=11) for i in range(25)]
    write_rows(more, str(inp / "b2.parquet"))
    second = run("stats2")
    assert sum(v[0] for v in second.values()) == 65

    # tallies agree exactly with a batch recount over the same corpus
    batch = spark.createDataFrame(gen_corpus(40, seed=11) + more,
                                  schema="doc_id string, spans array<struct<"
                                  "kind:string,text:string,media_ref:string,"
                                  "offset:int>>")
    from pdf_extractor_spark.operators.extraction import extract_operator
    got = {r.part_id: (r.docs, r.spans, r.fails)
           for r in extract_operator(
               with_partition_id(batch, 4).drop("part_id").select("doc_id", "spans"), 4)
           .groupBy("part_id")
           .agg(F.count("*").alias("docs"), F.sum("n_spans").alias("spans"),
                F.sum("parse_failures").alias("fails")).collect()}
    assert {k: tuple(map(int, v)) for k, v in second.items()} == \
        {k: tuple(map(int, v)) for k, v in got.items()}


def test_windowed_counts_watermark_drops_late_rows(spark, tmp_path):
    """Tumbling event-time windows finalize once the watermark passes; a row
    arriving later than the watermark bound is dropped, an in-bound late
    row is still counted into its event-time window."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.streaming.windowed import windowed_event_counts

    inp = tmp_path / "events"
    inp.mkdir()
    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    T = lambda m, s=0: base + dt.timedelta(minutes=m, seconds=s)

    def write(rows, name):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value": pa.array([1.0] * len(rows), pa.float64()),
        }), str(inp / name))

    # batch 1: window [10:00,10:10) gets 3 clicks; max ts 10:16 will put
    # the watermark at 10:11.  Watermark propagation lags one micro-batch
    # (it is computed at the end of batch N and takes effect in batch N+2's
    # filter), so batch 2 is a filler that lets 10:11 take effect before
    # the straggler arrives in batch 3.
    import time as _time

    # mtime gaps: the file source orders the initial backlog by
    # modification time, and batch order is what the test asserts on
    write([(1, T(0), "click"), (2, T(4), "click"), (3, T(9), "click"),
           (4, T(16), "view")], "b1.parquet")
    _time.sleep(1.1)
    write([(10, T(17), "view")], "b2.parquet")
    _time.sleep(1.1)
    # batch 3: event at 10:01 is > 5 min late (watermark 10:11) -> dropped;
    # event at 10:12 is within the open [10:10,10:20) window -> counted
    write([(5, T(1), "click"), (6, T(12), "view"), (7, T(27), "view")],
          "b3.parquet")

    out = tmp_path / "out"
    q = (windowed_event_counts(spark, str(inp), max_files_per_trigger=1)
         .writeStream.format("parquet").option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    rows = {(r.window_start.minute, r.event_type): r.n_events
            for r in spark.read.parquet(str(out)).collect()}
    # [10:00,10:10) x click finalized with exactly the 3 on-time rows —
    # the 10:01 straggler from batch 3 was dropped by the watermark
    assert rows[(0, "click")] == 3
    # [10:10,10:20) finalized after batch 3's 10:27 advanced the watermark;
    # it holds 10:16 (b1) + 10:17 (b2) + 10:12 (b3, late but within bound)
    assert rows[(10, "view")] == 3
    # [10:20,10:30) never finalized (watermark stops at 10:22) -> absent
    assert (20, "view") not in rows


# ---------------------------------------------------------------------------
# Streaming near-dup dedup against the growing signature index
# ---------------------------------------------------------------------------

def _py_words(t):
    return [w for w in t.split(" ") if w]


def _py_bands(ws):
    """Pure-python replica of the bands and shingle set of the MinHash
    kernel (corpus.minhash_udf; SQL form MINHASH_LSH_SIG_S in
    tests/sig_reference.py)."""
    import hashlib
    sh = [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]
    hs = [hashlib.md5(s.encode()).hexdigest()
          + hashlib.md5(("#" + s).encode()).hexdigest() for s in sh]
    lanes = [min(h[8 * j:8 * j + 8] for h in hs) for j in range(8)]
    return ([lanes[0] + lanes[1], lanes[2] + lanes[3],
             lanes[4] + lanes[5], lanes[6] + lanes[7]], set(sh))


def _expected_decisions(batches, threshold_pct=50):
    """Pure-python replica of streaming_dedup's EXACT decision semantics,
    batch by batch: a doc is dup iff some SURVIVOR of an earlier batch
    (the index holds only non-dup signed docs), or some smaller-id signed
    doc of the SAME batch (dup or not), has band collision + exact
    shingle Jaccard >= t; dup_of = the smallest such id.  Docs under the
    3-word signature floor get is_dup=False and never join the index."""
    def match(a, b):
        (bands, sh), (pbands, psh) = a, b
        if not any(x == y for x, y in zip(bands, pbands)):
            return False
        inter = len(sh & psh)
        union = len(sh) + len(psh) - inter
        return bool(union) and inter * 100 >= threshold_pct * union

    index, out = {}, {}
    for batch in batches:
        sigs = {d: _py_bands(_py_words(t)) for d, t in sorted(batch.items())
                if len(_py_words(t)) >= 3}
        for doc_id, sig in sigs.items():
            cands = [p for p, psig in index.items() if match(sig, psig)]
            cands += [p for p, psig in sigs.items()
                      if p < doc_id and match(sig, psig)]
            out[doc_id] = min(cands) if cands else None
        for d in batch:
            out.setdefault(d, None)
        for d, sig in sigs.items():
            if out[d] is None:
                index[d] = sig
    return out


def test_streaming_dedup_index_growth_and_exactly_once(spark, tmp_path):
    import duckdb
    from pdf_extractor_spark.streaming.dedup import streaming_dedup

    base = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' "
        "ORDER BY doc_id LIMIT 40").fetchall()
    inp = tmp_path / "in"
    state = tmp_path / "state"
    inp.mkdir()

    def write_batch(rows, name):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), str(inp / name))

    write_batch(base, "b1.parquet")
    streaming_dedup(spark, str(inp), str(state))

    # batch 2: 80%-truncated near-dup copies of every 4th doc + the rest
    # of the corpus as fresh docs
    copies = []
    for doc_id, text in base:
        if doc_id % 4 == 0:
            ws = _py_words(text)
            copies.append((doc_id + 3000000, " ".join(ws[:len(ws) * 4 // 5])))
    fresh = duckdb.sql(
        "SELECT doc_id + 500, text FROM "
        "'/root/testdata/sf0.001/documents.parquet' "
        "ORDER BY doc_id DESC LIMIT 5").fetchall()
    write_batch(copies + fresh, "b2.parquet")
    streaming_dedup(spark, str(inp), str(state))

    got = {r.doc_id: (r.is_dup, r.dup_of)
           for r in spark.read.parquet(f"{state}/decisions").collect()}

    # the oracle decisions treat batch-1 docs as "earlier" than batch-2
    # docs (batch-2 ids are all larger, so global id order == ingest order)
    want = _expected_decisions([dict(base),
                                {d: t for d, t in copies + fresh}])
    assert set(got) == set(want)
    for doc_id, dup_of in want.items():
        assert got[doc_id] == ((dup_of is not None), dup_of), doc_id

    # engineered near-dup copies must actually be flagged against batch 1
    flagged = [d for d, (isd, _) in got.items() if d >= 3000000 and isd]
    assert flagged, "no engineered copy was flagged as duplicate"

    # exactly-once: re-running with no new files changes nothing
    n_before = len(got)
    streaming_dedup(spark, str(inp), str(state))
    assert spark.read.parquet(f"{state}/decisions").count() == n_before

    # the index holds exactly the non-duplicate signed docs
    idx_ids = {r.doc_id
               for r in spark.read.parquet(f"{state}/index").collect()}
    texts = dict(base) | dict(copies) | dict(fresh)
    signed = {d for d, t in texts.items() if len(_py_words(t)) >= 3}
    assert idx_ids == {d for d, (isd, _) in got.items()
                       if not isd and d in signed}


def test_streaming_sessions_match_batch_rollup(spark, tmp_path):
    """session_window sessions (streaming, append mode) carry exactly the
    intervals and event counts of the batch gaps-and-islands rollup
    (events_sessionize) for every session the watermark has closed."""
    import datetime as dt

    from pdf_extractor_spark.corpus import events_sessionize
    from pdf_extractor_spark.streaming.sessions import streaming_sessions

    inp = tmp_path / "events"
    inp.mkdir()
    base = dt.datetime(2026, 2, 1, 9, 0, 0)
    M = lambda m: base + dt.timedelta(minutes=m)
    # user 1: two sessions (gap 45 > 30 splits); user 2: one session;
    # user 3: gap of EXACTLY 30 min — measured session_window semantics
    # MERGE the touching windows (open boundary: only gap > 30 splits),
    # so both engines must keep it one session; user 4: 30 min minus 1µs
    # — one session; user 5: 30 min plus 1µs — SPLITS, and pins the
    # exact-microsecond comparison (whole-second truncation reads this
    # gap as exactly 1800 s and would wrongly merge); plus a far-future
    # sentinel event per user that (a) advances the watermark past every
    # real session and (b) stays OPEN itself
    us1 = dt.timedelta(microseconds=1)
    rows = [
        (1, M(0), 1), (2, M(10), 1), (3, M(20), 1),     # u1 session A
        (4, M(65), 1), (5, M(70), 1),                   # u1 session B
        (6, M(5), 2), (7, M(25), 2),                    # u2 session A
        (10, M(0), 3), (11, M(30), 3),                  # u3: exact-gap merge
        (12, M(0), 4), (13, M(30) - us1, 4),            # u4: one session
        (16, M(0), 5), (17, M(30) + us1, 5),            # u5: splits
        (8, M(3000), 1), (9, M(3000), 2),               # sentinels
        (14, M(3000), 3), (15, M(3000), 4), (18, M(3000), 5),
    ]
    pq.write_table(pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array(["click"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
    }), str(inp / "b1.parquet"))

    out = tmp_path / "out"
    q = (streaming_sessions(spark, str(inp))
         .writeStream.format("parquet").option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.read.parquet(str(out)).collect()}

    # batch twin over the same parquet dir (events_sessionize reads
    # {sf_dir}/events.parquet — point a shim dir at our file)
    shim = tmp_path / "shim"
    shim.mkdir()
    (shim / "events.parquet").symlink_to(inp / "b1.parquet")
    batch = {(r.user_id, r.session_start, r.session_end, r.n_events)
             for r in events_sessionize(spark, str(shim)).collect()}
    # the sentinel sessions are still open in streaming (never emitted);
    # every CLOSED streaming session must equal its batch rollup row
    sentinels = {b for b in batch if b[1] == M(3000)}
    assert got == batch - sentinels
    # u1 x2, u2 x1, u3 x1 (exact-gap merges), u4 x1, u5 x2 (gap+1µs splits)
    assert len(got) == 7
    assert {(u, n) for u, _, _, n in got if u == 3} == {(3, 2)}
    assert {(u, n) for u, _, _, n in got if u == 4} == {(4, 2)}
    assert {(u, n) for u, _, _, n in got if u == 5} == {(5, 1)}


def test_streaming_dedup_compaction_bounded_and_parity(spark, tmp_path):
    """Index compaction: (a) duplicate decisions are IDENTICAL with and
    without compaction, including cross-batch dups whose index entry has
    already been folded into the compacted generation; (b) the probe
    reads a bounded number of locations regardless of batch count (1
    generation + < compact_every tail dirs), and folded tail partitions /
    superseded generations are physically removed."""
    import os

    import duckdb
    from pdf_extractor_spark.streaming.dedup import (_load_index,
                                                     _read_marker,
                                                     streaming_dedup)

    base = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet' "
        "ORDER BY doc_id LIMIT 48").fetchall()
    batches = [dict(base[i * 8:(i + 1) * 8]) for i in range(6)]
    # cross-batch near-dups: batch i >= 2 carries a truncated copy of a
    # batch i-2 doc — by then that doc's signature lives ONLY in the
    # compacted store (compact_every=2), so a parity failure here means
    # the compacted probe path is broken
    for i in range(2, 6):
        src_id, text = sorted(batches[i - 2].items())[0]
        ws = _py_words(text)
        batches[i][3000000 + i] = " ".join(ws[:len(ws) * 4 // 5])

    def run(state, compact_every):
        inp = tmp_path / f"in_{compact_every}"
        inp.mkdir(exist_ok=True)
        for i, b in enumerate(batches):
            pq.write_table(pa.table({
                "doc_id": pa.array(sorted(b), pa.int64()),
                "text": pa.array([b[d] for d in sorted(b)], pa.string()),
            }), str(inp / f"b{i}.parquet"))
            streaming_dedup(spark, str(inp), str(state),
                            compact_every=compact_every)
        return {r.doc_id: (r.is_dup, r.dup_of)
                for r in spark.read.parquet(f"{state}/decisions").collect()}

    got_plain = run(tmp_path / "plain", None)
    got_comp = run(tmp_path / "comp", 2)

    # (a) decision parity: compacted == uncompacted == pure-python oracle
    assert got_comp == got_plain
    want = _expected_decisions(batches)
    assert got_comp == {d: ((w is not None), w) for d, w in want.items()}
    assert any(d >= 3000000 and isd for d, (isd, _) in got_comp.items())

    # (b) bounded probe state: 6 batches (ids 0..5), compactions after
    # batches 1/3/5 -> everything folded into generation upto=5, zero
    # tail dirs, older generations gone
    state = tmp_path / "comp"
    marker = _read_marker(spark, str(state))
    assert marker and marker["upto"] == 5
    tail = [n for n in os.listdir(f"{state}/index")
            if n.startswith("batch_id=")] if os.path.isdir(
        f"{state}/index") else []
    assert tail == []
    gens = os.listdir(f"{state}/compacted")
    assert gens == ["upto=5"]
    # on-disk column sets are the resumable state layout: the compacted
    # band table keeps `band_hash` (the in-memory `bucket` never reaches
    # disk) and a tail dir holds whole signatures
    assert set(spark.read.parquet(f"{state}/compacted/upto=5/bands")
               .columns) == {"doc_id", "batch_id", "band_idx", "band_hash"}
    assert set(spark.read.parquet(f"{tmp_path}/plain/index/batch_id=0")
               .columns) == {"doc_id", "shset", "bands"}
    _, _, n_loc = _load_index(spark, str(state), 6)
    assert n_loc == 2  # the generation's two tables, nothing else

    # un-compacted twin: probe cost grew linearly instead (6 tail dirs)
    _, _, n_plain = _load_index(spark, str(tmp_path / "plain"), 6)
    assert n_plain == 6

    # (c) replay idempotency: a crash between the commit flag and the
    # stream's WAL commit replays the compacting batch — _compact must
    # no-op instead of overwriting the generation it is reading from
    from pdf_extractor_spark.streaming.dedup import _compact
    n_sigs = _load_index(spark, str(state), 6)[1].count()
    _compact(spark, str(state), 5)
    assert _read_marker(spark, str(state))["upto"] == 5
    _, sigs2, n2 = _load_index(spark, str(state), 6)
    assert n2 == 2 and sigs2.count() == n_sigs

    # (d) a half-written generation (no _COMMITTED flag) is invisible
    os.makedirs(f"{state}/compacted/upto=7")
    assert _read_marker(spark, str(state))["upto"] == 5


def test_stray_store_entries_are_ignored(spark, tmp_path):
    """ADVICE r3: a non-numeric entry in the state store (temp/editor
    artifacts like `upto=5.tmp`, lost+found) must be skipped by marker
    and tail discovery, not raise ValueError and wedge every later
    micro-batch."""
    import os

    from pdf_extractor_spark.streaming.dedup import (_dir_num, _read_marker,
                                                     _tail_batch_dirs)
    assert _dir_num("upto=12", "upto") == 12
    assert _dir_num("upto=5.tmp", "upto") is None
    assert _dir_num("upto=", "upto") is None
    assert _dir_num("upto=-3", "upto") is None  # negative ids never written
    assert _dir_num("batch_id=07", "batch_id") == 7
    assert _dir_num("_SUCCESS", "upto") is None

    state = tmp_path / "stray"
    os.makedirs(f"{state}/compacted/upto=3")
    open(f"{state}/compacted/upto=3/_COMMITTED", "w").close()
    os.makedirs(f"{state}/compacted/upto=5.tmp")
    open(f"{state}/compacted/upto=9", "w").close()  # stray FILE, no flag dir
    os.makedirs(f"{state}/index/batch_id=4")
    os.makedirs(f"{state}/index/batch_id=aux")
    open(f"{state}/index/.batch_id=6.crc", "w").close()
    marker = _read_marker(spark, str(state))
    assert marker and marker["upto"] == 3
    tail = _tail_batch_dirs(spark, str(state), -1, 100)
    assert [b for b, _ in tail] == [4]
