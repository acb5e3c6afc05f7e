"""The benchmark's workloads: inputs made from a seed, one timed cycle
against a fresh warehouse, and the checks on what that cycle committed.

Every workload hands the program plain parquet inputs that set-up
generated from ``fixtures`` with the run's seed; the program never sees
the seed or the truth tables. Checks read the committed tables back
through the catalog, so a commit that loses or corrupts rows fails
them.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedupe_spark import fixtures, pipeline
from dedupe_spark.catalog import SnapshotCatalog
from dedupe_spark.operators.evaluation import cluster_eval
from perfbench.proctree import tree_cpu_s

MIN_F1 = 0.99


#: median share of a fixture corpus's turns that sit in injected
#: duplicate copies (the link workloads' probe side)
COPY_SHARE = 0.36


def convs_for_turns(turns: int, seed: int) -> int:
    """Conversation count whose fixture plan for ``seed`` comes closest to
    ``turns`` turns, ``COPY_SHARE`` of them in duplicate copies.

    Turns per conversation and the duplicate share vary with the seed (the
    turn count of a 60-conversation corpus spreads by a fifth across
    seeds), so sizing on both keeps every seed's input, and its probe and
    registry sides, the same size to within a few percent."""

    def miss(n: int) -> float:
        plan = fixtures.build_plan(n, seed)
        copy = plan["dup_class"] != "base"
        return abs(plan.loc[copy, "n_turns"].sum() - COPY_SHARE * turns) + abs(
            plan.loc[~copy, "n_turns"].sum() - (1 - COPY_SHARE) * turns
        )

    guess = max(2, round(turns / 17.7))  # ~17.7 turns per requested conversation
    return min(range(guess * 7 // 10, guess * 7 // 5 + 2), key=lambda n: (miss(n), n))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@dataclass
class Call:
    kind: str  # "batch" (one-shot entry point) or "fold" (incremental)
    seconds: float
    turns: int
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    raised: bool = False
    ok: bool = True  # returned and passed its output checks


@dataclass
class CycleResult:
    calls: list[Call] = field(default_factory=list)
    f1: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    stored_bytes: int = 0


def _write(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


def _split(df: DataFrame, seed: int, parts: int) -> DataFrame:
    """Seeded hash split of conversations into ``parts`` slices, so the
    slices (and the clusters that span them) change with the seed."""
    return df.withColumn(
        "_slice", F.abs(F.xxhash64("conv_id", F.lit(seed))) % parts
    )


def _timed(res: CycleResult, kind: str, turns: int, fn) -> bool:
    """Run one entry-point call; a raise counts as a failed call."""
    me = os.getpid()
    c0, t0 = tree_cpu_s(me), time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 — the benchmark reports, then stops the cycle
        res.calls.append(Call(kind, time.perf_counter() - t0, turns, raised=True, ok=False))
        res.failures.append(f"{kind} call raised {type(e).__name__}: {e}"[:500])
        return False
    res.calls.append(Call(kind, time.perf_counter() - t0, turns, tree_cpu_s(me) - c0))
    out.release()
    return True


def _check(res: CycleResult, ok: bool, what: str) -> None:
    if not ok:
        res.failures.append(what)
        if res.calls:
            res.calls[-1].ok = False


class DedupBatch:
    """``pipeline.run(corpus, catalog=fresh)``: one-shot self-dedup with
    every table committed (overwrite writes)."""

    name = "dedup_batch"

    def __init__(self, n_conv: int):
        self.n_conv = n_conv

    def setup(self, spark: SparkSession, d: str, seed: int) -> dict:
        corpus = _write(fixtures.transcripts(spark, self.n_conv, seed), f"{d}/corpus")
        truth = _write(fixtures.expected_clusters(spark, self.n_conv, seed), f"{d}/truth")
        return {
            "corpus": corpus,
            "truth": truth,
            "turns": spark.read.parquet(corpus).count(),
            "input_bytes": dir_bytes(corpus),
        }

    def cycle(self, spark, inp: dict, wh: str, deadline: float) -> CycleResult:
        res = CycleResult()
        cat = SnapshotCatalog(spark, wh)
        corpus = spark.read.parquet(inp["corpus"])
        if not _timed(res, "batch", inp["turns"], lambda: pipeline.run(corpus, catalog=cat)):
            return res
        clusters = cat.read("clusters")
        truth = spark.read.parquet(inp["truth"])
        n, n_truth = clusters.count(), truth.count()
        _check(res, n == n_truth, f"clusters has {n} rows, expected {n_truth}")
        f1 = _cluster_f1(clusters, truth)
        res.f1.append(f1)
        _check(res, f1 >= MIN_F1, f"pair_f1 {f1:.4f} < {MIN_F1}")
        return res


class DedupFold:
    """Set-up commits a base corpus with ``run``; the cycle folds
    successive small batches with ``run_incremental``. The split is a
    seeded hash, so clusters span the base and the batches."""

    name = "dedup_fold"
    batches = 3

    def __init__(self, n_conv: int):
        self.n_conv = n_conv

    def setup(self, spark, d: str, seed: int) -> dict:
        inp = DedupBatch(self.n_conv).setup(spark, d, seed)
        corpus = _split(spark.read.parquet(inp["corpus"]), seed, 2 * self.batches)
        inp["parts"] = _write(corpus, f"{d}/parts")
        return inp

    def prepare(self, spark, inp: dict, wh: str) -> None:
        """Base commit of half the corpus; counted in set-up, not in the
        timed cycle. The other half arrives in batches."""
        base = spark.read.parquet(inp["parts"]).where(F.col("_slice") < self.batches)
        pipeline.run(base.drop("_slice"), catalog=SnapshotCatalog(spark, wh)).release()

    def cycle(self, spark, inp: dict, wh: str, deadline: float) -> CycleResult:
        res = CycleResult()
        cat = SnapshotCatalog(spark, wh)
        parts = spark.read.parquet(inp["parts"])
        for b in range(self.batches, 2 * self.batches):
            if res.calls and time.perf_counter() >= deadline:
                break
            batch = parts.where(F.col("_slice") == b).drop("_slice")
            turns = batch.count()
            if not _timed(res, "fold", turns, lambda: pipeline.run_incremental(batch, cat)):
                return res
            ids = parts.where(F.col("_slice") <= b).select("conv_id").distinct()
            cur = pipeline.current_clusters(cat)
            n_cur, n_ids = cur.count(), ids.count()
            n_both = cur.join(ids, "conv_id").count()
            _check(
                res, n_cur == n_ids == n_both,
                f"current_clusters has {n_cur} ids, ingested {n_ids}, common {n_both}",
            )
            truth = spark.read.parquet(inp["truth"]).join(ids, "conv_id", "left_semi")
            f1 = _cluster_f1(cur, truth)
            res.f1.append(f1)
            _check(res, f1 >= MIN_F1, f"pair_f1 {f1:.4f} < {MIN_F1} after batch {b}")
        return res


class LinkBatch:
    """``pipeline.link(probe, registry, catalog=fresh)`` with
    ``link_mode="many_to_one"``: one-shot linkage, committing the links
    and the registry-side probe state."""

    name = "link_batch"
    #: probe slices linked in later ``link_incremental`` batches
    batches = 0
    slices = 6

    def __init__(self, n_conv: int):
        self.n_conv = n_conv
        self.cfg = pipeline.PipelineConfig(link_mode="many_to_one")

    def setup(self, spark, d: str, seed: int) -> dict:
        probe, registry, truth = fixtures.linkage_sources(spark, self.n_conv, seed)
        parts = _write(_split(probe, seed, self.slices), f"{d}/probe")
        registry = _write(registry, f"{d}/registry")
        sizes = {
            r["_slice"]: r["n"]
            for r in spark.read.parquet(parts).groupBy("_slice").agg(F.count("*").alias("n")).collect()
        }
        ids = spark.read.parquet(parts).select("conv_id", "_slice").distinct().collect()
        return {
            "probe": parts,
            "registry": registry,
            "truth": {(r[0], r[1]) for r in truth.collect()},
            "slice_of": {r[0]: r[1] for r in ids},
            "sizes": sizes,
            "registry_turns": spark.read.parquet(registry).count(),
            "input_bytes": dir_bytes(parts) + dir_bytes(registry),
        }

    def cycle(self, spark, inp: dict, wh: str, deadline: float) -> CycleResult:
        res = CycleResult()
        cat = SnapshotCatalog(spark, wh)
        parts = spark.read.parquet(inp["probe"])
        registry = spark.read.parquet(inp["registry"])
        first_fold = self.slices - self.batches
        base = parts.where(F.col("_slice") < first_fold).drop("_slice")
        turns = inp["registry_turns"] + sum(inp["sizes"].get(s, 0) for s in range(first_fold))
        if not _timed(res, "batch", turns, lambda: pipeline.link(base, registry, self.cfg, catalog=cat)):
            return res
        last = first_fold - 1
        for b in range(first_fold, self.slices):
            if len(res.calls) > 1 and time.perf_counter() >= deadline:
                break
            batch = parts.where(F.col("_slice") == b).drop("_slice")
            if not _timed(
                res, "fold", inp["sizes"].get(b, 0),
                lambda: pipeline.link_incremental(batch, cat, self.cfg),
            ):
                return res
            last = b
        self._check_links(res, cat, inp, last)
        return res

    def _check_links(self, res: CycleResult, cat, inp: dict, last_slice: int) -> None:
        links = [(r[0], r[1]) for r in cat.read("links").select("conv_id_a", "conv_id_b").collect()]
        n_a = len({a for a, _ in links})
        _check(res, len(links) == n_a, f"many_to_one: {len(links)} links for {n_a} probe records")
        truth = {(a, b) for a, b in inp["truth"] if inp["slice_of"].get(a, self.slices) <= last_slice}
        tp = len(truth.intersection(links))
        prec = tp / len(links) if links else 1.0
        rec = tp / len(truth) if truth else 1.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        res.f1.append(f1)
        _check(res, f1 >= MIN_F1, f"link pair_f1 {f1:.4f} < {MIN_F1}")


class LinkFold(LinkBatch):
    """``link`` over half the probe side, then ``link_incremental``
    batches of the rest (seeded hash slices)."""

    name = "link_fold"
    batches = 3


def _cluster_f1(assign: DataFrame, truth: DataFrame) -> float:
    """Pairwise F1 of a (conv_id, cluster_id) assignment against the
    fixture's expected clusters."""
    joined = assign.select("conv_id", F.col("cluster_id").alias("pred")).join(
        truth.select("conv_id", F.col("cluster_id").alias("gold")), "conv_id"
    )
    f1 = cluster_eval(joined, "pred", "gold").first()["pair_f1"]
    return float(f1) if f1 is not None else 0.0


WORKLOADS = {w.name: w for w in (DedupBatch, LinkBatch, DedupFold, LinkFold)}
