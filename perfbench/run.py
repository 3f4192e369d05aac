"""The repo's benchmark: one workload per invocation, end-to-end metrics
untraced (``--trace 0``) or per-layer metrics traced (``--trace 1``).

    python3 perfbench/run.py --workload extract_reports --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the line before it carries the host context.
The load is a closed loop from one client, this process, issuing one
job at a time.

A run: generate the seeded inputs (cached, outside ``setup_s``) → time a
fixed pure-Python loop (``host.cpu_probe_s``) → set up ``SETUPS`` times
(``get_spark`` plus one untimed warm-up pass; the JVM is launched once
and later set-ups stop and restart the session in it) → time back-to-back
passes for ``--seconds`` → check the last pass's output exactly, once,
untimed.  Every metric is a median over set-ups or passes.  The workloads,
their sizes, and which layer metric should move which end-to-end metric
are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
PR_SET_CHILD_SUBREAPER = 36


def _prepare_env() -> None:
    """Keep Spark's scratch files, the JVM's and Python's temp files inside
    the checkout, and pin the session size before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no JVM perf-data file in the system temp dir either
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if opts not in os.environ.get("JAVA_TOOL_OPTIONS", ""):
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") not in (here, ROOT)]


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: tells a slow host window
    apart from a regression."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6


def med(xs: list[float]) -> float:
    return statistics.median(xs)


class ExtractReports:
    """``plans.pipeline.run_extraction`` into a fresh output dir per pass,
    over a corpus whose every third doc is a 20-30 page report."""
    name = "extract_reports"
    unit = "docs"
    size = 450

    def __init__(self, seed: int, size: int | None = None):
        self.seed, self.size = seed, size or self.size

    def generate(self, procs: int) -> None:
        from perfbench import inputs
        self.path, self.meta = inputs.documents(
            os.path.join(WORK, "cache"), ROOT, self.seed, self.size, procs)
        self.docs = os.path.join(self.path, "docs")
        self.units = self.meta["docs"]

    def run_pass(self, spark, out: str, tracer=None) -> tuple[list[str], object]:
        """One pass; returns (problems, finish), where ``finish()`` gives
        the layer metrics of a traced pass once it is timed."""
        from perfbench import checks, layers
        from pdf_extractor_spark.plans import pipeline
        if tracer is not None:
            return layers.extraction(self, spark, out, tracer)
        m = pipeline.run_extraction(spark, self.docs, out)
        return checks.extraction_totals(m, self.meta), None

    def check_output(self, out: str) -> list[str]:
        from perfbench import checks
        return checks.span_sequences(os.path.join(out, "extracted"),
                                     os.path.join(self.path, "expected"))

    def probes(self, spark, tracer) -> dict:
        from perfbench import layers
        return layers.extraction_probes(self, spark, tracer)


class DedupEmbeddings:
    """``corpus.dedup_embeddings_run`` over seeded signed 64-dim vectors
    with a planted 10 % exact-duplicate fraction."""
    name = "dedup_embeddings"
    unit = "vectors"
    size = 2000

    def __init__(self, seed: int, size: int | None = None):
        self.seed, self.size = seed, size or self.size

    def generate(self, procs: int) -> None:
        from perfbench import inputs
        self.path, self.meta = inputs.vectors(
            os.path.join(WORK, "cache"), self.seed, self.size)
        self.vecs = os.path.join(self.path, "vecs")
        self.units = self.meta["vectors"]

    def run_pass(self, spark, out: str, tracer=None) -> tuple[list[str], object]:
        from perfbench import checks, layers
        from pdf_extractor_spark import corpus
        if tracer is not None:
            return layers.dedup(self, spark, out, tracer)
        m = corpus.dedup_embeddings_run(spark, self.vecs, out)
        return checks.dedup_totals(m, self.meta["planted"]), None

    def check_output(self, out: str) -> list[str]:
        from perfbench import checks, inputs
        return checks.pair_set(os.path.join(out, "pairs"),
                               inputs.planted_pairs(self.size))

    def probes(self, spark, tracer) -> dict:
        from perfbench import layers
        return layers.dedup_probes(self, spark, tracer)


WORKLOADS = {w.name: w for w in (ExtractReports, DedupEmbeddings)}
# the other family's workload, at a small size, that a traced run adds to
# measure the layers its own workload leaves idle
SIDE = {"extract_reports": ("dedup_embeddings", 1000),
        "dedup_embeddings": ("extract_reports", 90)}


class Runner:
    """Passes, their timings and their failures for one workload."""

    def __init__(self, wl, spark=None):
        self.wl, self.spark = wl, spark
        self.n = 0
        self.attempted = self.failed = 0
        self.last_out = None
        self.last_ok = False

    def _out(self) -> str:
        self.n += 1
        out = os.path.join(WORK, "out", f"{self.wl.name}-{self.wl.size}-{self.n}")
        shutil.rmtree(out, ignore_errors=True)
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
        return out

    def one(self, tracer=None) -> dict | None:
        """One checked pass.  Returns its figures, or None if it failed."""
        out = self._out()
        self.attempted += 1
        finish = None
        t0 = time.perf_counter()
        try:
            problems, finish = self.wl.run_pass(self.spark, out, tracer)
        except Exception:   # a pass that raises counts as failed
            traceback.print_exc()
            problems = ["raised"]
        wall = time.perf_counter() - t0
        self.last_out, self.last_ok = out, not problems
        if problems:
            self.failed += 1
            print(f"{self.wl.name} pass {self.n} failed: {problems}",
                  file=sys.stderr)
            return None
        return {"wall": wall, "out_mb": du_mb(out),
                "layer": finish() if finish is not None else {}}

    def check_last(self) -> None:
        """The exact output check, once per run, on the last pass; a
        mismatch fails that pass."""
        if self.last_out is None or not self.last_ok:
            return
        problems = self.wl.check_output(self.last_out)
        if problems:
            self.failed += 1
            print(f"{self.wl.name} output check failed: {problems}",
                  file=sys.stderr)


def setup(wl, runner: Runner, master: str) -> tuple[list[float], list[float]]:
    """``SETUPS`` set-ups of (get_spark, one warm-up pass); returns the
    session start and warm-up times of each."""
    from pdf_extractor_spark.session import get_spark
    starts, warms = [], []
    for i in range(SETUPS):
        if runner.spark is not None:
            release_cached_frames()
            runner.spark.stop()
        t0 = time.perf_counter()
        runner.spark = get_spark(f"perfbench-{wl.name}", master=master)
        t1 = time.perf_counter()
        runner.one()
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
    return starts, warms


def release_cached_frames() -> None:
    """Unpersist the frames ``corpus`` keeps cached between calls while
    their session is alive: its next call unpersists them, which raises
    once that session has been stopped."""
    from pdf_extractor_spark import corpus
    while corpus._PERSISTED:
        corpus._PERSISTED.pop().unpersist()


def stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    end; a no-op once done, so every path out of a run can call it."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            release_cached_frames()
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()      # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the child subreaper: a process started under it
    whose parent ends first (a Python worker under the JVM, the
    multiprocessing resource tracker) is handed to this process instead
    of init, so ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(d))
    return kids


def reap_children(grace: float = 60.0) -> None:
    """Wait until every process this one started, or adopted, has ended;
    kill what is still running after ``grace`` seconds."""
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()   # closes its pipe, waits
    deadline = time.monotonic() + grace
    while kids := _children():
        for pid in kids:
            with contextlib.suppress(OSError):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def run(args) -> int:
    from perfbench import tracing
    wl = WORKLOADS[args.workload](args.seed)
    nproc = os.cpu_count() or 1
    master = f"local[{max(1, nproc // 2)}]"
    t0 = time.perf_counter()
    wl.generate(nproc)
    gen_s = time.perf_counter() - t0
    probe_s = cpu_probe()

    import pandas
    import pyarrow
    import pyspark
    runner = Runner(wl)
    starts, warms = setup(wl, runner, master)
    # passes below are the timed ones; warm-up failures stay counted
    tracer = tracing.Tracer(run=f"{wl.name}-s{args.seed}") if args.trace else None
    walls, traced_walls, outs, layers = [], [], [], []
    t_start = time.perf_counter()
    k = 0
    while (time.perf_counter() - t_start < args.seconds
           or (tracer is not None and not (walls and traced_walls))):
        # a traced run alternates untraced and traced passes, so the
        # difference of their medians is the tracing overhead
        traced = tracer is not None and k % 2 == 1
        r = runner.one(tracer if traced else None)
        k += 1
        if r is None:
            continue
        (traced_walls if traced else walls).append(r["wall"])
        outs.append(r["out_mb"])
        if traced:
            layers.append(r["layer"])
    timed_passes = k
    runner.check_last()

    context = {
        "workload": wl.name, "seed": args.seed, "size": wl.size,
        "unit": wl.unit, "master": master, "nproc": nproc,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__, "python": sys.version.split()[0],
        "host.cpu_probe_s": probe_s, "gen_s": gen_s,
        "setup_each_s": [s + w for s, w in zip(starts, warms)],
        "pass_walls_s": walls, "traced_pass_walls_s": traced_walls,
        "timed_passes": timed_passes,
        "ok_passes": len(walls) + len(traced_walls),
        "load": "closed loop, 1 client, 1 job at a time"}
    if tracer is None:
        wall = med(walls) if walls else float("nan")
        metrics = {
            "setup_s": (med([s + w for s, w in zip(starts, warms)]), "s"),
            "wall_s": (wall, "s"),
            "docs_per_s": (wl.units / wall, "1/s"),
            "output_mb": (med(outs) if outs else float("nan"), "MB"),
            "ok_frac": ((runner.attempted - runner.failed) / runner.attempted,
                        "ratio"),
        }
    else:
        metrics = traced_metrics(wl, runner, tracer, layers, starts, warms,
                                 walls, traced_walls, probe_s, gen_s, args.seed)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{tracer.run}.json"))
    stop_spark()
    correct = runner.failed == 0
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


def traced_metrics(wl, runner, tracer, layers, starts, warms, walls,
                   traced_walls, probe_s, gen_s, seed) -> dict:
    """Per-layer metrics: medians over the traced passes, the isolated
    layer probes, and one traced pass of the other workload family at a
    small size for the layers this workload leaves idle."""
    from perfbench import tracing
    spark = runner.spark
    values: dict = {}
    for key in (layers[0] if layers else {}):
        values[key] = med([lay[key][0] for lay in layers]), layers[0][key][1]
    values.update(wl.probes(spark, tracer))
    name, size = SIDE[wl.name]
    side = WORKLOADS[name](seed, size)
    side.generate(os.cpu_count() or 1)
    side_runner = Runner(side, spark)
    side_runner.one()                       # warm-up
    r = side_runner.one(tracer)
    side_runner.check_last()
    runner.attempted += side_runner.attempted
    runner.failed += side_runner.failed
    for key, v in (r["layer"] if r else {}).items():
        values.setdefault(key, v)
    for key, v in side.probes(spark, tracer).items():
        values.setdefault(key, v)
    values.update({
        "session.start_s": (med(starts), "s"),
        "session.warmup_s": (med(warms), "s"),
        "session.rss_peak_mb": (tracing.jvm_rss_peak_mb(spark), "MB"),
        "host.cpu_probe_s": (probe_s, "s"),
        "gen_s": (gen_s, "s"),
        "trace.overhead_s": (med(traced_walls) - med(walls)
                             if walls and traced_walls else float("nan"), "s"),
    })
    return values


def run_all(args) -> int:
    """Every workload in turn, each in its own process (its own JVM)."""
    results, rc = {}, 0
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines))
        rc = rc or p.returncode
        results[name] = json.loads(lines[-1]) if lines else None
    ok = [r for r in results.values() if r]
    print(json.dumps({
        "correct": rc == 0 and len(ok) == len(results),
        "attempted": sum(r["attempted"] for r in ok),
        "failed": sum(r["failed"] for r in ok),
        "metrics": {f"{w}.{k}": v for w, r in results.items() if r
                    for k, v in r["metrics"].items()}}))
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark")):
        print("perfbench: pdf_extractor_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    adopt_orphans()
    try:
        if args.workload == "all":
            return run_all(args)
        _prepare_env()
        return run(args)
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_spark()
        finally:
            reap_children()


if __name__ == "__main__":
    sys.exit(main())
