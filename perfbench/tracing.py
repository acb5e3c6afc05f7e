"""Per-layer tracing for the benchmark, done entirely from outside the
program: each layer's public functions are replaced, for the duration
of one traced cycle, by wrappers that record a span around the call.

A span holds name, layer, start, end, parent span and the id of the
entry-point call (op) it belongs to. Inside its span a wrapper:

* runs the Spark jobs it causes under a job group unique to that span,
  so job counts and stage metrics attribute exactly (a reused group id
  would accumulate counts across ops);
* materializes the DataFrame(s) the function returns (persist + count),
  so the lazily-defined work lands in the layer that defined it rather
  than in whichever later action happens to run it. The cached frames
  are released when the op ends.

Self time is a span's duration minus the union of its children's
intervals (``incremental_components`` nests ``connected_components``,
``catalog.compact`` nests ``catalog.write``; summing durations would
count the nested work twice).

Stage-level numbers (task run time, shuffle writes, spill, failed
tasks, task skew) come from Spark's in-memory status store, which holds
the same per-stage data the event log records; the event log itself
was not used because its adaptive-plan updates run to gigabytes for a
single incremental batch.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

from dedupe_spark import catalog, pipeline
from dedupe_spark.operators import (
    blocking,
    clustering,
    lifecycle,
    linkage,
    minhash,
    normalize,
    scoring,
)

LAYERS = (
    "pipeline",
    "lifecycle",
    "normalize",
    "minhash",
    "blocking",
    "scoring",
    "clustering",
    "linkage",
    "catalog",
)

#: (owner, attribute, layer, materialize the returned DataFrames?)
_WRAPPED = [
    (pipeline, "run", "pipeline", False),
    (pipeline, "run_incremental", "pipeline", False),
    (pipeline, "link", "pipeline", False),
    (pipeline, "link_incremental", "pipeline", False),
    (pipeline, "commit", "pipeline", False),
    (pipeline, "current_clusters", "pipeline", True),
    (lifecycle, "register_turns", "lifecycle", True),
    (lifecycle, "register_turns_incremental", "lifecycle", True),
    (lifecycle, "reconstruct", "lifecycle", True),
    (normalize, "conversation_docs", "normalize", True),
    (minhash, "with_minhash_bands", "minhash", True),
    (blocking, "explode_blocks", "blocking", True),
    (blocking, "bloom_preprune", "blocking", True),
    (blocking, "cross_bloom_preprune", "blocking", True),
    (blocking, "candidate_pairs", "blocking", True),
    (blocking, "cross_candidate_pairs", "blocking", True),
    (blocking, "exact_key_pairs", "blocking", True),
    (scoring, "score_pairs", "scoring", True),
    (clustering, "connected_components", "clustering", True),
    (clustering, "incremental_components", "clustering", True),
    (clustering, "clusters_with_singletons", "clustering", True),
    (linkage, "reciprocal_best_links", "linkage", True),
    (catalog.SnapshotCatalog, "write", "catalog", False),
    (catalog.SnapshotCatalog, "read", "catalog", True),
]

ENTRY_POINTS = ("run", "run_incremental", "link", "link_incremental")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    rows: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _frames(out) -> list[DataFrame]:
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [x for x in out if isinstance(x, DataFrame)]
    return []


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Tracer:
    """Installs the span wrappers; ``with tracer:`` scopes them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._cached: list[DataFrame] = []
        self._saved: list[tuple[object, str, object]] = []
        self._op = 0
        self.materialize_s = 0.0

    # -- install / remove ---------------------------------------------
    def __enter__(self):
        for owner, attr, layer, mat in _WRAPPED:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, attr, layer, mat))
        return self

    def __exit__(self, *exc):
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
        return False

    # -- spans ---------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str, materialize: bool):
        tracer = self

        def traced(*args, **kwargs):
            return tracer._call(fn, name, layer, materialize, args, kwargs)

        traced.__wrapped__ = fn
        return traced

    def _call(self, fn, name, layer, materialize, args, kwargs):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            if name not in ENTRY_POINTS:
                # the benchmark's own checks, outside any entry point
                return fn(*args, **kwargs)
            self._op += 1
        sid = len(self.spans)
        span = Span(
            id=sid, name=name, layer=layer, op=self._op,
            parent=parent.id if parent else None,
            group=f"perfbench-op{self._op}-span{sid}", start=time.perf_counter(),
        )
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, f"{layer}.{name}")
        try:
            out = fn(*args, **kwargs)
            if materialize:
                t0 = time.perf_counter()
                for df in _frames(out):
                    df.persist()
                    self._cached.append(df)
                    span.rows.append(df.count())
                self.materialize_s += time.perf_counter() - t0
            self._annotate(span, name, args, out)
            return out
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}.{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                for df in self._cached:
                    df.unpersist()
                self._cached.clear()

    def _annotate(self, span: Span, name: str, args, out) -> None:
        """Layer-specific counts measured where the work happens."""
        if name in ("write", "read"):
            cat, table = args[0], args[1]
            sid = out if name == "write" else cat.current_snapshot_id(table)
            meta = cat._read_meta(table, sid)
            span.extra["table"] = table
            if name == "write":
                files, size = _dir_files(meta["data_dirs"][-1])
                span.extra.update(files_written=files, bytes_written=size)
            else:
                span.extra["view_dirs"] = len(meta["data_dirs"])
        elif name == "bloom_preprune":
            span.extra["rows_in"] = args[0].count()
        elif name == "cross_bloom_preprune":
            span.extra["rows_in"] = args[0].count() + args[1].count()
        elif name == "score_pairs":
            span.extra["dups"] = out.where("is_dup").count()

    # -- results -------------------------------------------------------
    def finish(self) -> None:
        """Fill self times and per-span job counts."""
        tracker = self.sc.statusTracker()
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
            s.jobs = len(tracker.getJobIdsForGroup(s.group))
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            s.self_s = (s.end - s.start) - covered

    def subtree_jobs(self, span: Span) -> int:
        return span.jobs + sum(
            self.subtree_jobs(c) for c in self.spans if c.parent == span.id
        )

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["start"] -= t0
            d["end"] -= t0
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1)


def stage_stats(spark, groups: set[str]) -> dict[str, dict]:
    """Per job group: task run time, shuffle write bytes, spill bytes,
    failed tasks, and (stage id, attempt, run time, tasks) of each stage,
    read from the driver's status store. A stage shared by several jobs
    is charged to the first job that lists it; skipped stages are not
    charged."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_group: dict[int, str] = {}
    for j in sorted(conv.asJava(store.jobsList(None)), key=lambda j: j.jobId()):
        g = j.jobGroup()
        if not g.isDefined() or g.get() not in groups:
            continue
        for sid in conv.asJava(j.stageIds()):
            stage_group.setdefault(int(sid), g.get())
    gw = spark.sparkContext._gateway
    stages = store.stageList(
        None, False, False, gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()
    )
    out: dict[str, dict] = {}
    for st in conv.asJava(stages):
        g = stage_group.get(st.stageId())
        if g is None or str(st.status()) == "SKIPPED":
            continue
        d = out.setdefault(
            g, {"run_ms": 0, "shuffle_write": 0, "spill": 0, "failed": 0, "stages": []}
        )
        d["run_ms"] += st.executorRunTime()
        d["shuffle_write"] += st.shuffleWriteBytes()
        d["spill"] += st.diskBytesSpilled()
        d["failed"] += st.numFailedTasks()
        d["stages"].append((st.stageId(), st.attemptId(), st.executorRunTime(), st.numTasks()))
    return out


def task_skew(spark, stage: tuple) -> float:
    """max / median task run time of one stage (1.0 for a single task)."""
    sid, attempt, _, n_tasks = stage
    if n_tasks < 2:
        return 1.0
    gw = spark.sparkContext._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    summ = spark.sparkContext._jsc.sc().statusStore().taskSummary(sid, attempt, q)
    if not summ.isDefined():
        return 1.0
    run = list(spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        summ.get().executorRunTime()
    ))
    return float(run[1]) / float(run[0]) if run[0] > 0 else 1.0
