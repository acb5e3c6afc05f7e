#!/usr/bin/env python3
"""End-to-end benchmark of the pipeline's entry points, with commits timed.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run starts its own Spark session
sized for the machine (``SPARK_GRAFT_CPUS`` = usable CPUs, a driver heap
of a quarter of RAM capped at 4 GiB, shuffle files under the run's own
directory), generates its inputs from ``--seed``, times entry-point calls
against a fresh warehouse until ``--seconds`` have passed (at least one
cycle), checks what they committed, removes every file it wrote under
``.bench_work/`` except traces, stops the JVM and prints one JSON line
last.

Workloads (``workloads.py``): ``dedup_batch`` (``run``) and
``link_batch`` (``link``) are the ones ``BENCHMARK.json`` lists;
``link_fold`` (``link``, then ``link_incremental`` batches) and
``dedup_fold`` (a base commit with ``run`` in set-up, then
``run_incremental`` batches) time the incremental entry points.

``--trace 0`` prints the end-to-end metrics:

* ``setup_s`` — session start (JVM launch included) and input
  generation, whose ``mapInPandas`` call also starts the Python workers;
  on ``dedup_fold`` plus the base commit;
* ``batch_s`` — median wall time of the one-shot calls (``run`` /
  ``link``; on ``dedup_fold`` the base commit), every catalog commit
  included;
* ``batch_cpu_s`` — median CPU seconds the process tree spent in those
  calls; time the hypervisor steals is not charged, so it holds steadier
  than wall time on a shared machine;
* ``turns_per_s`` — input turns committed per timed second, incremental
  batches included;
* ``pair_f1`` — lowest pairwise F1 of the tables read back from the
  catalog against the fixture truth;
* ``stored_bytes_per_input_byte`` — warehouse bytes on disk after the
  cycle over the input's parquet bytes.

One JSON line on stderr also gives each one-shot and incremental call
time (``batch_s``, ``fold_s``) and ``peak_rss_mb``, the peak resident
memory of the process tree (driver JVM, Python workers, this process)
sampled from ``/proc``. Peak RSS is not listed in BENCHMARK.json: it follows
the JVM's heap growth, which spreads by about half between runs.

``--trace 1`` runs one cycle with every layer's public functions wrapped
(``tracing.py``) and prints the per-layer metrics. Spans with parents
and self times go to ``.bench_work/traces/<workload>-seed<seed>.json``.
Tracing overhead is the traced run's ``trace.call_s`` over the untraced
run's summed call time on the same seed; ``test_selftest.py`` prints it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("dedup_batch", "link_batch", "dedup_fold", "link_fold")
#: input size in transcript turns (per seed, the conversation count that
#: comes closest). Call time is set by Spark job count (~200 per ``run``)
#: more than by data volume: 800, 3,000 and 6,000 turns take about the
#: same time. 6,000 gives ~200 truth links, so one wrong link costs the
#: F1 check 0.005 rather than 0.01
TURNS = 6000


def _meminfo_gib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) >> 20
    return 4


def session_env(run_dir: str) -> dict[str, str]:
    """The sizing environment the program's session factory reads."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, _meminfo_gib() // 4))}g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
    }


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        from perfbench.proctree import tree_rss_kib

        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kib = max(self.peak_kib, tree_rss_kib(me))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def build(run_dir: str, trace: bool):
    from dedupe_spark.session import build_session

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse")}
    if trace:
        # a fold batch runs ~1,000 jobs; keep every job and stage so the
        # per-span counts and stage metrics are exact. SQL executions stay
        # at the default retention: their plan strings are not used, and
        # keeping all of them ran a traced link_fold out of heap
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def cc_iterations(wh: str) -> int:
    d = os.path.join(wh, "_cc_checkpoints")
    return len([x for x in os.listdir(d) if x.startswith("iter=")]) if os.path.isdir(d) else 0


def layer_metrics(spark, tracer, wh: str, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced cycle (see BENCHMARK.json)."""
    from perfbench import tracing as tr

    tracer.finish()
    spans = tracer.spans
    by_layer: dict[str, list] = {layer: [] for layer in tr.LAYERS}
    for s in spans:
        by_layer[s.layer].append(s)

    def self_s(layer, names=None):
        return sum(s.self_s for s in by_layer[layer] if names is None or s.name in names)

    def rows(layer, names):
        return sum(s.rows[0] for s in by_layer[layer] if s.name in names and s.rows)

    def extra(layer, key):
        return sum(s.extra.get(key, 0) for s in by_layer[layer])

    entries = [s for s in spans if s.parent is None and s.name in tr.ENTRY_POINTS]
    reads = [s for s in by_layer["catalog"] if s.name == "read"]
    reg = [s for s in by_layer["lifecycle"] if s.name.startswith("register_turns")]
    bloom = [s for s in by_layer["blocking"] if s.name.endswith("bloom_preprune")]
    score = by_layer["scoring"]
    m = {
        "pipeline.self_s": self_s("pipeline"),
        "pipeline.jobs": statistics.mean(tracer.subtree_jobs(s) for s in entries),
        "catalog.write_s": self_s("catalog", {"write"}),
        "catalog.read_s": self_s("catalog", {"read"}),
        "catalog.files_written": extra("catalog", "files_written"),
        "catalog.bytes_written": extra("catalog", "bytes_written"),
        "catalog.read_view_dirs": (
            statistics.mean(s.extra["view_dirs"] for s in reads) if reads else 0.0
        ),
        "catalog.jobs": sum(s.jobs for s in by_layer["catalog"]),
        "lifecycle.s": self_s("lifecycle"),
        "lifecycle.reconstruct_s": self_s("lifecycle", {"reconstruct"}),
        # register_turns* returns (unique_turns, membership)
        "lifecycle.unique_turn_frac": (
            sum(s.rows[0] for s in reg) / sum(s.rows[1] for s in reg) if reg else 0.0
        ),
        "normalize.s": self_s("normalize"),
        "minhash.s": self_s("minhash"),
        "minhash.docs_signed": rows("minhash", {"with_minhash_bands"}),
        "blocking.s": self_s("blocking"),
        "blocking.block_rows": rows("blocking", {"explode_blocks"}),
        "blocking.bloom_kept_frac": (
            sum(sum(s.rows) for s in bloom) / sum(s.extra["rows_in"] for s in bloom)
            if bloom and sum(s.extra["rows_in"] for s in bloom) else 1.0
        ),
        "blocking.candidates": rows("blocking", {"candidate_pairs", "cross_candidate_pairs"}),
        "scoring.s": self_s("scoring"),
        "scoring.pairs": rows("scoring", {"score_pairs"}),
        "scoring.dup_yield": (
            sum(s.extra["dups"] for s in score) / max(1, sum(s.rows[0] for s in score))
        ),
        "clustering.s": self_s("clustering"),
        "clustering.iterations": cc_iterations(wh),
        "clustering.jobs": sum(s.jobs for s in by_layer["clustering"]),
    }
    stats = tr.stage_stats(spark, {s.group for s in spans})
    for layer in tr.LAYERS:
        if layer == "linkage":
            continue
        st = [stats[s.group] for s in by_layer[layer] if s.group in stats]
        wall = self_s(layer)
        run_s = sum(x["run_ms"] for x in st) / 1000.0
        m[f"{layer}.busy_frac"] = run_s / (wall * cores) if wall > 0 else 0.0
        m[f"{layer}.shuffle_write_bytes"] = sum(x["shuffle_write"] for x in st)
        m[f"{layer}.spill_bytes"] = sum(x["spill"] for x in st)
        m[f"{layer}.failed_tasks"] = sum(x["failed"] for x in st)
    blocking_stages = [
        stage for s in by_layer["blocking"] if s.group in stats for stage in stats[s.group]["stages"]
    ]
    m["blocking.task_skew"] = (
        tr.task_skew(spark, max(blocking_stages, key=lambda x: x[2])) if blocking_stages else 1.0
    )
    return m


def bench(args, run_dir: str) -> dict:
    from perfbench.proctree import tree_cpu_s
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Call, convs_for_turns, dir_bytes

    n_conv = convs_for_turns(args.turns or TURNS, args.seed)
    wl = WORKLOADS[args.workload](n_conv)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        # one set-up per run: a repeat costs ~5 s, and a run is meant to
        # take about a minute (session start plus one cold call)
        t0 = time.perf_counter()
        spark = build(run_dir, bool(args.trace))
        inp = wl.setup(spark, os.path.join(run_dir, "input"), args.seed)
        setup_s = time.perf_counter() - t0
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        base_calls: list = []

        def fresh_warehouse(i: int) -> str:
            wh = os.path.join(run_dir, f"warehouse{i}")
            if hasattr(wl, "prepare"):
                c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                wl.prepare(spark, inp, wh)
                base_calls.append(
                    Call("batch", time.perf_counter() - t0, 0, tree_cpu_s(os.getpid()) - c0)
                )
            return wh

        wh = fresh_warehouse(0)
        if base_calls:
            setup_s += base_calls[0].seconds
        results = []
        deadline = time.perf_counter() + args.seconds
        with Tracer(spark) if args.trace else contextlib.nullcontext() as tracer:
            i = 0
            while True:
                results.append(wl.cycle(spark, inp, wh, deadline))
                results[-1].stored_bytes = dir_bytes(wh)
                if args.trace or time.perf_counter() >= deadline or results[-1].failures:
                    break
                shutil.rmtree(wh, ignore_errors=True)
                i += 1
                wh = fresh_warehouse(i)
        calls = base_calls + [c for r in results for c in r.calls]
        failures = [f for r in results for f in r.failures]
        timed = [c for r in results for c in r.calls]
        f1s = [f for r in results for f in r.f1]
        batch = [c.seconds for c in calls if c.kind == "batch"]
        folds = [c.seconds for c in timed if c.kind == "fold"]
        summary = {
            "workload": args.workload, "seed": args.seed, "convs": n_conv,
            "setup_s": setup_s, "batch_s": batch, "fold_s": folds,
            "timed_s": sum(c.seconds for c in timed),
            "peak_rss_mb": sampler.peak_kib / 1024.0,
            "failures": failures, **session_env(run_dir),
        }
        if args.trace:
            metrics = layer_metrics(spark, tracer, wh, cores)
            metrics["trace.call_s"] = sum(c.seconds for c in timed)
            metrics["trace.materialize_s"] = tracer.materialize_s
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
                {**summary, "metrics": metrics},
            )
        else:
            metrics = {
                "setup_s": setup_s,
                "batch_s": statistics.median(batch),
                "batch_cpu_s": statistics.median(c.cpu_s for c in calls if c.kind == "batch"),
                "turns_per_s": sum(c.turns for c in timed if not c.raised)
                / sum(c.seconds for c in timed),
                "pair_f1": min(f1s) if f1s else 0.0,
                "stored_bytes_per_input_byte": results[-1].stored_bytes / inp["input_bytes"],
            }
        failed = sum(1 for c in calls if not c.ok)
        print(json.dumps(summary), file=sys.stderr)
        units = metric_units()
        return {
            "correct": not failures,
            "attempted": len(calls),
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }
    finally:
        sampler.stop()
        if spark is not None:
            shutdown(spark)


def metric_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=0, help="input size override (self-test)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedupe_spark", "pipeline.py")):
        print(f"error: no dedupe_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ.update(session_env(run_dir))
    # workers import the package from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the run's directory and write no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    sys.path.insert(0, ROOT)
    try:
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
