"""Benchmark entry point.

    python3 perfbench/run.py --workload <incremental|batch_mixed|all>
                             --seed <n> --seconds <s> --trace <0|1>

Runs one workload on Spark local[nproc] against the pcompress_spark package
found next to this directory, from any working directory. Inputs come from
`--seed` through pcompress_spark.datagen; generated corpora are cached under
`.perfbench/` in the repository root, beside Spark's spill and temp files.

Prints the environment, the timed samples of each operation with their
count, every metric with its unit, then,
as the last line, one JSON object {correct, attempted, failed, metrics}.
`--trace 0` runs the workload and reports the end-to-end metrics;
`--trace 1` runs the layer tour of workloads.layer_tour instead, with spans
around the program's layer entry points, and reports the per-layer
metrics. Exits 1 when an operation raises or an output check fails, 2 when
the package cannot be imported. `--workload all` runs every workload in
turn, each in its own process, and exits with the worst exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "assignments_read_s": "s",
    "planted_recall": "ratio",
    "stored_bytes_per_doc": "B",
}

SPANS = (
    "pipeline.run",
    "ckpt.sigs",
    "ckpt.candidates",
    "ckpt.edges",
    "ckpt.assignments",
    "incr.bootstrap",
    "incr.add_batch",
    "incr.update_batch",
    "incr.assignments",
)
_PHASE_UNITS = {"wall_s": "s", "jobs": "count", "task_s": "s"}
_FIELD_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "task_s": "s",
    "core_util": "ratio",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
}
LAYER_METRICS = {
    # peak resident memory of the process tree (Spark JVM and Python
    # workers) during the layer tour; it spread too much across runs
    # (IQR/median 0.34-0.38) to be a gated end-to-end metric
    "process.peak_rss_mb": "MB",
    # JVM GC time of the whole pipeline run; the stage spans' own GC time
    # is often exactly 0 at this corpus size
    "pipeline.run.gc_s": "s",
    "exact.sigs_rows": "count",
    "fused.candidate_pairs": "count",
    "verify.edges_out.exact": "count",
    "verify.edges_out.near": "count",
    "verify.edges_out.substring": "count",
    "verify.accept_ratio": "ratio",
    "components.clusters": "count",
    "checkpoint.sigs_bytes": "B",
    "checkpoint.candidates_bytes": "B",
    "checkpoint.edges_bytes": "B",
    "checkpoint.assignments_bytes": "B",
    "incremental.index_files": "count",
    "incremental.index_bytes": "B",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.trace import SPAN_FIELDS
    from perfbench.workloads import PHASES

    units = {f"{s}.{f}": _FIELD_UNITS[f] for s in SPANS for f in SPAN_FIELDS}
    units.update(
        {f"incr.add_batch.{p}.{f}": u for p in PHASES for f, u in _PHASE_UNITS.items()}
    )
    units.update(LAYER_METRICS)
    return units


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, heap: str) -> None:
    """Environment the Spark JVM and its Python workers inherit:
    the package on PYTHONPATH, spill and temp files inside `work`."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started (the launcher's and Spark's) keeps its temp files in
    # `work` and writes no hsperfdata file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", heap)
    # the warm-up may fault memory in, but never changes device bindings
    os.environ["PCOMPRESS_WARM_UNBIND"] = "0"


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    setup_t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import pcompress_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import pcompress_spark from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench import machine
    from perfbench.workloads import WORKLOADS, Bench, cached_index, layer_tour

    if args.workload == "all":  # each workload in its own process and JVM
        return max(
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]
            ).returncode
            for w in WORKLOADS
        )
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    cores, avail = machine.nproc(), machine.available_gb()
    configure_env(work, machine.jvm_heap(avail))

    from pcompress_spark.session import get_spark
    from pcompress_spark.warmup import ensure_warm

    warm = ensure_warm(budget_s=3)
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        # the whole heap is committed and touched at JVM start, in set-up:
        # first-touch page faults are slow on some VMs (see
        # pcompress_spark/warmup.py) and would otherwise land in the
        # timed operations as the heap grows
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if args.trace:
        # keep every job and stage of the run for attribution
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    try:
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cores,
            "mem_available_gb": round(avail, 1),
            "jvm_heap": heap,
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "warmup": warm,
        }
        print("environment: " + json.dumps(env), flush=True)
        bench = Bench(spark, work, args.seed, args.seconds)
        # whichever run comes first in a fresh checkout builds the cached
        # incremental index (about 2 minutes on 4 cores), so no later
        # incremental run pays for it
        cached_index(bench)
        if args.trace:
            res = layer_tour(bench)
        else:
            res = WORKLOADS[args.workload](bench, setup_t0)
    finally:
        stop_spark(spark)

    for why in res.failures:
        print(f"FAILED {why}", flush=True)
    for name, vals in sorted(res.samples.items()):
        print(f"samples {name}: n={len(vals)} " + " ".join(f"{v:.3f}" for v in vals))
    units = per_layer_units() if args.trace else END_TO_END
    values = res.layers if args.trace else res.metrics
    # only what was measured: a span or phase that no longer runs leaves
    # its metrics out, and the run is not correct
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units if k in values}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    missing = [k for k in units if k not in values]
    if missing and not res.failed:
        print(f"FAILED {len(missing)} metrics not measured: {', '.join(missing[:5])}")
    correct = res.failed == 0 and not missing
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, res.attempted),
        "failed": res.failed or int(not correct),
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
