"""The benchmark's workloads: one process, one client, closed loop.

Each workload drives the public API on a seeded corpus, times its
operations, checks their outputs and returns a `Result`. A workload
repeats one write followed by a few resolved reads until --seconds have
passed (at least once):

- `batch_mixed`: the write is a cold-checkpoint DedupPipeline.run over
  the seed's datagen block; the read is a resumed DedupPipeline.run
  over the completed checkpoints, which returns the stored assignments.
- `incremental`: the write is IncrementalDedupIndex.update_batch of a
  seeded re-crawl of indexed urls with unchanged text (change detection
  and the redelivery guard; no doc is re-versioned); the read is
  IncrementalDedupIndex.assignments(), the globally resolved labels with
  the merge closure applied.

Set-up is timed apart: session start, input generation or load, the
warm-up (one small pipeline run, or for `incremental` the index restore,
its build on first use, warm-up reads and one warm-up write), so JIT and
Python-worker start-up stay out of the timed operations.

add_batch and an update_batch that changes content are left out of the
timed loop: one add_batch of 50-100 docs takes 45-90 s on 4 cores. The
traced layer tour runs add_batch once.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import corpus, machine
from perfbench.trace import Tracer, attribute, attribute_phases, read_status_store

STAGES = ("sigs", "candidates", "edges", "assignments")
# add_batch's job tags (`incr:<phase>`), in the order it runs them
PHASES = ("read_index", "identity", "classify", "probe", "verify", "labels", "appends")
INCR_CALLS = ("bootstrap", "add_batch", "update_batch", "assignments")
BATCH_READS = 5  # batch_mixed: resolved reads after each write (one write a run)
# incremental: reads after each write. A write and two reads take about
# 7 s on 4 cores, so a 10 s run takes two writes and four reads and
# reports their medians
INCR_READS = 2
WARMUP_READS = 2  # reads in set-up
# incremental: writes in set-up. Times keep falling for about ten rounds of
# a write and two reads, mostly JIT (update_batch: 4.9 s on the 2nd call,
# about 3.3 s by the 10th, on 4 cores); two warm-up writes are what the run
# budget allows
WARMUP_WRITES = 2
TOUR_READS = 2  # spanned and as many unspanned reads, alternating
# layer tour: held-out docs added by add_batch. Its cost is mostly a fixed
# floor of about 150 small jobs (about 60 s on 4 cores at 20 docs, 75 s at 50)
TOUR_ADD_DOCS = 20
# batch_mixed corpus: one block, 1000 docs. A warm run takes about 20 s
# on 4 cores, of which about 13 s is the fixed floor of a 20-doc run; two
# blocks (about 30 s) do not fit the run budget beside the other workload
BATCH_BLOCKS = 1
RECRAWL_DOCS = 500  # incremental: indexed urls re-crawled per write
# warm-up pipeline input: 20 docs of a block no workload times (a cold
# pipeline run costs about 30 s on 4 cores whatever its size)
WARMUP_SEED = 99_999


@dataclass
class Result:
    samples: dict[str, list[float]] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def median(self, name: str) -> float:
        return statistics.median(self.samples[name])


class Bench:
    """Shared state of one benchmark run: session, work dir, tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float):
        from pcompress_spark.config import PipelineConfig

        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cfg = PipelineConfig()
        self.cores = spark.sparkContext.defaultParallelism
        self.tracer = Tracer(spark)
        self.cache = os.path.join(work, "corpus-cache")
        self.res = Result()

    def pages(self, key: str, indices, seed: int | None = None):
        """Cached pages for `indices`, keyed by name, seed and size."""
        seed = self.seed if seed is None else seed
        path = corpus.cached_pages(self.cache, f"{key}-s{seed}-n{len(indices)}", indices)
        return self.spark.read.parquet(path)

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, "run", name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed(self, metric: str, op, rows: int | None = None):
        """Run one measured operation; an exception, or a row count other
        than `rows`, counts as a failure."""
        self.res.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op()
        except Exception as exc:  # noqa: BLE001 - recorded, run continues
            self.res.fail(f"{metric}: {type(exc).__name__}: {exc}")
            return None
        self.res.add(metric, time.perf_counter() - t0)
        if rows is not None and out != rows:
            self.res.fail(f"{metric}: returned {out} rows, expected {rows}")
        return out

    def loop(
        self, write, write_rows: int, read, read_rows: int, reads: int, prepare=None
    ) -> None:
        """Closed loop: one write, then `reads` reads, repeated until
        --seconds have passed; stops at the first failure. `prepare` runs
        before each write, untimed."""
        t0 = time.perf_counter()
        while not self.res.failed:
            if prepare is not None:
                prepare()
            self.timed("write_s", write, write_rows)
            for _ in range(reads):
                if not self.res.failed:
                    self.timed("read_s", read, read_rows)
            if time.perf_counter() - t0 >= self.seconds:
                break

    def trace_program(self) -> None:
        """Span the program's layer entry points. A call made from inside
        another incremental call (update_batch runs add_batch) counts
        toward the outer span only."""
        from pcompress_spark.checkpoint import CheckpointManager
        from pcompress_spark.operators.incremental import IncrementalDedupIndex
        from pcompress_spark.pipeline import DedupPipeline

        t = self.tracer
        t.wrap(DedupPipeline, "run", lambda *a, **k: "pipeline.run")
        t.wrap(
            CheckpointManager,
            "materialize",
            lambda self, name, *a, **k: f"ckpt.{name}" if name in STAGES else None,
        )
        for call in INCR_CALLS:
            t.wrap(IncrementalDedupIndex, call, t.unless_within("incr.", f"incr.{call}"))

    def layer_counts(self, ckpt_dir: str) -> None:
        """Row and byte counts read from a pipeline checkpoint directory."""
        from pyspark.sql import functions as F

        lineage = {}
        with open(os.path.join(ckpt_dir, "_lineage.json")) as fh:
            for line in fh:
                if line.strip():
                    rec = json.loads(line)
                    lineage[rec["stage"]] = rec
        lay = self.res.layers
        for st in STAGES:
            lay[f"checkpoint.{st}_bytes"] = lineage[st]["bytes"]
        lay["exact.sigs_rows"] = lineage["sigs"]["rows"]
        lay["fused.candidate_pairs"] = lineage["candidates"]["rows"]
        kinds = {
            r["kind"]: r["count"]
            for r in self.spark.read.parquet(os.path.join(ckpt_dir, "edges"))
            .groupBy("kind")
            .count()
            .collect()
        }
        for kind in ("exact", "near", "substring"):
            lay[f"verify.edges_out.{kind}"] = kinds.get(kind, 0)
        fuzzy = kinds.get("near", 0) + kinds.get("substring", 0)
        cands = lineage["candidates"]["rows"]
        lay["verify.accept_ratio"] = fuzzy / cands if cands else 0.0
        lay["components.clusters"] = (
            self.spark.read.parquet(os.path.join(ckpt_dir, "assignments"))
            .agg(F.countDistinct("cluster_id"))
            .collect()[0][0]
        )

    def check(self, cluster_of: dict[int, int], indices) -> None:
        by_class, failures = corpus.check_clusters(cluster_of, indices)
        for f in failures:
            self.res.fail(f"output check: {f}")
        if by_class:
            self.res.metrics["planted_recall"] = corpus.recall(by_class)
            print(
                "planted pairs found/total: "
                + ", ".join(f"{c} {f}/{t}" for c, (f, t) in sorted(by_class.items())),
                flush=True,
            )


def _pipeline_count(b: Bench, pages, ckpt: str, resume: bool = False) -> int:
    from pcompress_spark.pipeline import DedupPipeline

    return DedupPipeline(b.spark, b.cfg, checkpoint_dir=ckpt, resume=resume).run(
        pages
    ).count()


def _labels(df) -> dict[int, int]:
    return {r["doc_id"]: r["cluster_id"] for r in df.select("doc_id", "cluster_id").collect()}


def _check_index(b: Bench, idx, indices) -> dict[int, int]:
    """Resolved labels of `idx`, checked to hold exactly the docs of
    `indices`, one row each, and graded against their planted structure."""
    from pcompress_spark import datagen

    rows = idx.assignments().select("doc_id", "cluster_id").collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    index_of_id = {datagen.doc_id_of(datagen.gen_doc(i)["url"]): i for i in indices}
    if len(rows) != len(got) or set(got) != set(index_of_id):
        b.res.fail(
            f"index holds {len(rows)} rows for {len(got)} docs, "
            f"expected {len(indices)} docs"
        )
    else:
        b.check({index_of_id[d]: c for d, c in got.items()}, indices)
    return got


# ------------------------------------------------------------------ batch
def batch_mixed(b: Bench, setup_t0: float) -> Result:
    """DedupPipeline.run over the seed's datagen block (1000 docs, the
    standard mix: 55% unique, 42% planted duplicates, 3% boilerplate hot
    band), cold checkpoints per write, after a 20-doc warm-up run."""
    indices = corpus.block_indices(b.seed, blocks=BATCH_BLOCKS)
    pages = b.pages("batch", indices)
    warm = corpus.block_indices(WARMUP_SEED, lambda j: j % 50 == 0)
    _pipeline_count(b, b.pages("warmup", warm, WARMUP_SEED), b.scratch("warmup"))
    b.res.metrics["setup_s"] = time.perf_counter() - setup_t0

    ckpt = os.path.join(b.work, "run", "ckpt")
    b.loop(
        lambda: _pipeline_count(b, pages, ckpt),
        len(indices),
        lambda: _pipeline_count(b, pages, ckpt, resume=True),
        len(indices),
        BATCH_READS,
        prepare=lambda: b.scratch("ckpt"),
    )
    if b.res.failed:
        return b.res
    b.res.metrics["docs_per_s"] = len(indices) / b.res.median("write_s")
    b.res.metrics["assignments_read_s"] = b.res.median("read_s")
    b.res.metrics["stored_bytes_per_doc"] = machine.dir_usage(ckpt)[1] / len(indices)

    rows = b.spark.read.parquet(os.path.join(ckpt, "assignments")).collect()
    if len(rows) != len(indices):
        b.res.fail(f"assignments hold {len(rows)} rows for {len(indices)} docs")
    b.check({corpus.index_of_url(r["url"]): r["cluster_id"] for r in rows}, indices)
    return b.res


# ------------------------------------------------------------ incremental
# The incremental index is built once per checkout and package digest, from
# a fixed block: bootstrap of the block without its held-out tenth (in-block
# index % 10 == 9), then add_batch of that tenth. Held-out unique docs are
# planted sources of indexed docs, so the batch bridges clusters and the
# index carries merge rows that every resolved read must apply.
INDEX_BLOCK_SEED = 0


def _held_out(j: int) -> bool:
    return j % 10 == 9


def cached_index(b: Bench) -> str:
    """Directory holding the built `index/` and `expected.json`, the
    resolved labels read right after the build. Built on first use; the
    bootstrap's labels must equal its own monolithic pipeline run's."""
    from pcompress_spark.operators.incremental import IncrementalDedupIndex

    path = os.path.join(b.work, "index-cache", corpus.package_digest())
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    seed = INDEX_BLOCK_SEED
    base = corpus.block_indices(seed, lambda j: not _held_out(j))
    held = corpus.block_indices(seed, _held_out)
    index_dir = os.path.join(tmp, "index")
    idx = IncrementalDedupIndex(b.spark, b.cfg, index_dir)
    boot = _labels(idx.bootstrap(b.pages("index-base", base, seed)))
    mono = _labels(
        b.spark.read.parquet(os.path.join(index_dir, "_bootstrap_ckpt", "assignments"))
    )
    if boot != mono:
        raise RuntimeError("bootstrap labels differ from its pipeline run")
    idx.add_batch(b.pages("index-batch", held, seed)).count()
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(_labels(idx.assignments()), fh)
    os.replace(tmp, path)
    return path


def recrawl_indices(seed: int, indices, n: int) -> list[int]:
    """The seed's re-crawl: `n` of `indices`, drawn without replacement."""
    return sorted(random.Random(seed).sample(list(indices), n))


def incremental(b: Bench, setup_t0: float) -> Result:
    """update_batch of a seeded re-crawl of 500 indexed urls (unchanged
    text), then resolved assignments() reads, over an index built by
    bootstrap + add_batch (merge closure applied)."""
    from pcompress_spark.operators.incremental import IncrementalDedupIndex

    cached = cached_index(b)
    index_dir = b.scratch("index")
    shutil.copytree(os.path.join(cached, "index"), index_dir)
    idx = IncrementalDedupIndex(b.spark, b.cfg, index_dir)
    indices = corpus.block_indices(INDEX_BLOCK_SEED)
    recrawl = b.pages("recrawl", recrawl_indices(b.seed, indices, RECRAWL_DOCS))
    for _ in range(WARMUP_READS):  # JIT and plan caches
        idx.assignments().count()
    for _ in range(WARMUP_WRITES):
        idx.update_batch(recrawl).count()
    b.res.metrics["setup_s"] = time.perf_counter() - setup_t0

    # an unchanged re-crawl re-versions nothing: update_batch returns no rows
    b.loop(lambda: idx.update_batch(recrawl).count(), 0,
           lambda: idx.assignments().count(), len(indices), INCR_READS)
    if b.res.failed:
        return b.res
    b.res.metrics["docs_per_s"] = RECRAWL_DOCS / b.res.median("write_s")
    b.res.metrics["assignments_read_s"] = b.res.median("read_s")
    b.res.metrics["stored_bytes_per_doc"] = machine.dir_usage(index_dir)[1] / len(indices)

    # checks, outside the timed window: one row per doc (re-crawled urls
    # are not duplicated), planted structure, and the labels the build
    # read back
    got = _check_index(b, idx, indices)
    with open(os.path.join(cached, "expected.json")) as fh:
        want = {int(k): v for k, v in json.load(fh).items()}
    diff = sum(got[d] != want.get(d) for d in got)
    if diff:
        b.res.fail(f"index labels differ from the build's on {diff} docs")
    return b.res


WORKLOADS = {"incremental": incremental, "batch_mixed": batch_mixed}


# -------------------------------------------------------------- layer tour
def layer_tour(b: Bench) -> Result:
    """The traced run, the same for every workload, on the seed's block:
    bootstrap of an incremental index over the even in-block indices (half
    the block, to keep the run well inside its time limit; the pipeline
    run and its four checkpoint stages inside), then
    add_batch of TOUR_ADD_DOCS seeded held-out docs (its jobs attributed
    to add_batch's phases), update_batch of an unchanged re-crawl, and
    resolved reads, spanned and unspanned in turn after warm-up reads:
    their difference is the tracing overhead. Takes 2-2.5 minutes on 4
    cores, most of it the bootstrap and add_batch."""
    from pcompress_spark.operators.incremental import IncrementalDedupIndex

    base = corpus.block_indices(b.seed, lambda j: j % 2 == 0)
    held = corpus.block_indices(b.seed, _held_out)
    added = sorted(random.Random(b.seed).sample(held, TOUR_ADD_DOCS))
    indices = sorted(base + added)
    base_pages = b.pages("tour-base", base)
    add_pages = b.pages("tour-add", added)
    recrawl = b.pages("tour-recrawl", recrawl_indices(b.seed, base, len(added)))
    index_dir = b.scratch("tour")
    idx = IncrementalDedupIndex(b.spark, b.cfg, index_dir)
    b.trace_program()
    with machine.PeakRss() as rss:
        b.timed("bootstrap_s", lambda: idx.bootstrap(base_pages).count(), len(base))
        b.timed("add_batch_s", lambda: idx.add_batch(add_pages).count(), len(added))
        b.timed("update_batch_s", lambda: idx.update_batch(recrawl).count(), 0)
        b.tracer.enabled = False
        for _ in range(WARMUP_READS):
            b.timed("warmup_read_s", lambda: idx.assignments().count(), len(indices))
        for _ in range(TOUR_READS):
            b.tracer.enabled = True
            b.timed("traced_read_s", lambda: idx.assignments().count(), len(indices))
            b.tracer.enabled = False
            b.timed("read_s", lambda: idx.assignments().count(), len(indices))
    b.tracer.unwrap()
    if b.res.failed:
        return b.res
    lay = b.res.layers
    lay["process.peak_rss_mb"] = rss.peak_bytes / 2**20
    jobs, stages = read_status_store(b.spark)
    spans = b.tracer.spans
    lay.update(attribute(spans, jobs, stages, b.cores))
    lay.update(attribute_phases("incr.add_batch", PHASES, spans, jobs, stages))
    lay["trace.untraced_wall_s"] = b.res.median("read_s")
    lay["trace.traced_wall_s"] = b.res.median("traced_read_s")
    lay["trace.overhead_s"] = lay["trace.traced_wall_s"] - lay["trace.untraced_wall_s"]
    b.layer_counts(os.path.join(index_dir, "_bootstrap_ckpt"))
    lay["incremental.index_files"], lay["incremental.index_bytes"] = machine.dir_usage(
        index_dir
    )
    _check_index(b, idx, indices)
    return b.res
