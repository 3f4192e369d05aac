"""The benchmark's own tests, at a tiny size.

    python3 -m pytest perfbench/tests -q

The Spark tests run the real command in-process with the workload sizes
shrunk; each starts and stops its own JVM.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(run.ExtractReports, "size", 24)
    monkeypatch.setattr(run.DedupEmbeddings, "size", 200)
    monkeypatch.setattr(run, "SETUPS", 1)
    monkeypatch.setattr(run, "SIDE", {"extract_reports": ("dedup_embeddings", 200),
                                      "dedup_embeddings": ("extract_reports", 24)})


def _bench(capsys, workload: str, trace: int, seed: int = 5) -> tuple[int, dict]:
    rc = run.main(["--workload", workload, "--seed", str(seed),
                   "--seconds", "1", "--trace", str(trace)])
    lines = capsys.readouterr().out.strip().splitlines()
    assert "context" in json.loads(lines[-2])
    assert run._children() == []
    return rc, json.loads(lines[-1])


# --- checks, no Spark ------------------------------------------------------

def test_extraction_totals_flag_each_mismatch():
    meta = {"docs": 10, "corrupt": 1, "spans": 99}
    good = {"docs_total_committed": 10, "parse_failures": 1,
            "spans_total": 99, "validation_violations": 0}
    assert checks.extraction_totals(good, meta) == []
    for key, bad in [("docs_total_committed", 9), ("parse_failures", 0),
                     ("spans_total", 98), ("validation_violations", 1)]:
        assert checks.extraction_totals({**good, key: bad}, meta)


def test_dedup_totals_flag_each_mismatch():
    good = {"pairs": 20, "non_canonical": 20, "dropped_hot_buckets": 0,
            "cc_converged": True}
    assert checks.dedup_totals(good, 20) == []
    for key, bad in [("pairs", 19), ("non_canonical", 21),
                     ("dropped_hot_buckets", 1), ("cc_converged", False)]:
        assert checks.dedup_totals({**good, key: bad}, 20)


def test_pair_set_needs_exactly_the_planted_pairs(tmp_path):
    planted = inputs.planted_pairs(50)

    def write(pairs):
        path = tmp_path / f"p{len(list(tmp_path.iterdir()))}"
        path.mkdir()
        a, b = zip(*sorted(pairs)) if pairs else ((), ())
        pq.write_table(pa.table({"vec_a": pa.array(a, pa.int64()),
                                 "vec_b": pa.array(b, pa.int64())}),
                       str(path / "part-0.parquet"))
        return str(path)

    assert checks.pair_set(write(planted), planted) == []
    assert checks.pair_set(write(sorted(planted)[1:]), planted)
    assert checks.pair_set(write(sorted(planted) + [(1, 2)]), planted)


def test_vectors_are_seeded(tmp_path):
    a, _ = inputs.vectors(str(tmp_path / "a"), seed=1, n_base=30)
    b, _ = inputs.vectors(str(tmp_path / "b"), seed=1, n_base=30)
    c, _ = inputs.vectors(str(tmp_path / "c"), seed=2, n_base=30)
    read = lambda p: pq.read_table(os.path.join(p, "vecs")).to_pylist()  # noqa: E731
    assert read(a) == read(b) != read(c)
    rows = read(a)
    assert len(rows) == 33 and rows[30]["embedding"] == rows[0]["embedding"]


def test_parse_metric_reads_each_status_store_form():
    from perfbench.tracing import Metric, parse_metric
    assert parse_metric("2.0 MiB") == Metric(2 * 1024 ** 2 / 1e6)
    assert parse_metric("95,993") == Metric(95993.0)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "2.5 s (1.2 s, 1.3 s, 1.4 s (stage 13.0: task 11))") == Metric(2.5, 1.4, 13)
    assert parse_metric(
        "(min, med, max (stageId: taskId)):\n"
        "(1, 2, 3 (stage 79.0: task 75))") == Metric(2.0, 3.0, 79)


# --- the command, tiny size ------------------------------------------------

@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_prints_with_its_unit(tiny, capsys, workload):
    rc, res = _bench(capsys, workload, trace=0)
    assert rc == 0 and res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_per_layer_metric(tiny, capsys, workload):
    rc, res = _bench(capsys, workload, trace=1)
    assert rc == 0 and res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["plans.pipeline.sql_executions"] >= 5
    assert m["operators.extraction.python_run_s"] > 0
    assert m["corpus.candidates"] >= 1
    assert 0 < m["corpus.pairs_per_candidate"] <= 1
    assert m["corpus.cc_rounds"] >= 1


def test_dropped_span_fails_its_pass(tiny, capsys, monkeypatch):
    from pdf_extractor_spark.plans import pipeline
    real = pipeline.run_extraction

    def drop_one_span(spark, docs, out, *a, **kw):
        m = real(spark, docs, out, *a, **kw)
        part = os.path.join(out, "extracted")
        f = next(os.path.join(d, n) for d, _, ns in sorted(os.walk(part))
                 for n in ns if n.endswith(".parquet"))
        rows = pq.read_table(f).to_pylist()
        victim = next(r for r in rows if len(r["spans"]) > 1)
        victim["spans"] = victim["spans"][:-1]
        pq.write_table(pa.Table.from_pylist(rows, pq.read_schema(f)), f)
        return m

    monkeypatch.setattr(pipeline, "run_extraction", drop_one_span)
    rc, res = _bench(capsys, "extract_reports", trace=0)
    assert rc == 1 and not res["correct"] and res["failed"] == 1
    assert res["metrics"]["ok_frac"]["value"] < 1


def test_removed_planted_pair_fails_its_pass(tiny, capsys, monkeypatch):
    from pdf_extractor_spark import corpus
    real = corpus.dedup_embeddings_run

    def drop_one_pair(spark, vecs, out, *a, **kw):
        m = real(spark, vecs, out, *a, **kw)
        t = pq.read_table(os.path.join(out, "pairs"))
        for d, _, ns in os.walk(os.path.join(out, "pairs")):
            for n in ns:
                os.remove(os.path.join(d, n))
        pq.write_table(t.slice(1), os.path.join(out, "pairs", "part-0.parquet"))
        return m

    monkeypatch.setattr(corpus, "dedup_embeddings_run", drop_one_pair)
    rc, res = _bench(capsys, "dedup_embeddings", trace=0)
    assert rc == 1 and not res["correct"] and res["failed"] == 1


def test_command_leaves_no_process_running():
    """The command as a separate process, its leftovers reparented here:
    nothing it started (JVM, Python workers, the multiprocessing resource
    tracker of input generation) may outlive it."""
    cache = os.path.join(run.WORK, "cache")
    for entry in glob.glob(os.path.join(cache, "docs-reports-s977-*")):
        shutil.rmtree(entry)            # so the inputs are generated again
    run.adopt_orphans()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "extract_reports", "--seed", "977", "--seconds", "1",
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300)
    assert p.returncode == 0
    assert json.loads(p.stdout.strip().splitlines()[-1])["correct"]
    leftovers = run._children()
    run.reap_children(grace=0)
    assert leftovers == []
