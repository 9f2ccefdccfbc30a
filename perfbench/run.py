"""Transcript near-dup benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_skewed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from --seed (cached
under .bench_work/inputs), the engine runs on local[nproc] in a session
pinned by this script (see README.md), and after set-up operations run in
a closed loop, one client, until --seconds have passed. Every operation's
output is checked against the run's first output and the planted truth.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a traced run. Each metric is printed as "name = value unit", and the
last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is 0 only when every output passed its checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

WORKLOADS = ("batch_mixed", "batch_skewed", "delta_ingest")


def pin_env(root: str, work: str, width: int) -> dict:
    """The session the numbers come from, fixed before pyspark starts:
    local[width] with width = the CPUs this process may use, the engine's
    width probe pinned to the same width, shuffle partitions fixed at
    2 x width, and a JVM heap of a quarter of RAM, at most 2g: the
    inputs are small, and a larger heap only lets the JVM's resident set
    wander from run to run.
    Scratch, temp and spill files stay inside the checkout."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(2048, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(width),
        "SPARK_GRAFT_EFFECTIVE_WIDTH": str(width),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(2 * width),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the spark-submit launcher JVM; -UsePerfData keeps hsperfdata out of /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return env


def start_session(work: str, width: int):
    from pcompress_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{width}]",
        shuffle_partitions=2 * width,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads stage counters back by job group
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_op(wl, chk, spark, i: int, out: str) -> dict | None:
    """One timed operation plus its checks; None when it failed."""
    from procs import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.monotonic()
    try:
        wl.op(spark, i, out)
    except Exception:
        traceback.print_exc()
        chk.problems.append(f"operation {i} raised")
        return None
    wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
    print(f"op {i}: {wall:.2f} s wall, {cpu:.1f} s cpu", file=sys.stderr)
    n_problems = len(chk.problems)
    recall = wl.check(chk, i, out)
    shutil.rmtree(out, ignore_errors=True)
    if len(chk.problems) > n_problems:
        return None
    return {"wall": wall, "cpu": cpu, "recall": recall, "turns": wl.op_turns(i)}


def end_to_end(wl, chk, spark, work: str, seconds: float) -> tuple[int, int, dict]:
    from procs import MemSampler

    done, attempted = [], 0
    with MemSampler() as mem:
        t_end = time.monotonic() + seconds
        while attempted == 0 or time.monotonic() < t_end:
            attempted += 1
            r = run_op(wl, chk, spark, attempted, f"{work}/op{attempted}")
            if r is not None:
                done.append(r)
    if not done:
        return attempted, attempted, {}
    return attempted, attempted - len(done), {
        "wall_s": (median([r["wall"] for r in done]), "s"),
        "turns_per_s": (median([r["turns"] / r["wall"] for r in done]), "1/s"),
        "cpu_s": (median([r["cpu"] for r in done]), "s"),
        "peak_rss_mb": (mem.peak / 2**20, "MB"),
        "cluster_recall": (median([r["recall"] for r in done]), "ratio"),
        "success_rate": (len(done) / attempted, "ratio"),
    }


def traced(wl, chk, spark, work: str, seconds: float, width: int) -> tuple[int, int, dict]:
    """Per-layer run. Each iteration makes one untraced operation, then the
    traced build (the pipeline re-composed from its operators) over the
    workload's corpus, then a traced admission of a delta against the
    state that build wrote. For the batch workloads the traced build is
    the traced twin of the operation; for delta_ingest the admission is."""
    from spans import Tracer
    from workloads import admit, digest, pipeline_digest, read, rows, traced_build

    tracer = Tracer(spark)
    its, attempted = [], 0
    t_end = time.monotonic() + seconds
    while attempted == 0 or time.monotonic() < t_end:
        attempted += 1
        i = attempted
        r = run_op(wl, chk, spark, i, f"{work}/op{i}")
        if r is None:
            continue
        tdir, ddir = f"{work}/trace{i}", f"{work}/tdelta{i}"
        t0 = time.monotonic()
        c = traced_build(spark, tracer, i, wl.trace_build_input(), tdir)
        build_wall = time.monotonic() - t0
        chk.expect(wl.build_key, pipeline_digest(tdir))
        t0 = time.monotonic()
        admit(spark, spark.read.parquet(f"{tdir}/signatures"),
              spark.read.parquet(f"{tdir}/clusters"), wl.trace_delta(i), ddir, tracer, i)
        delta_wall = time.monotonic() - t0
        if wl.build_key == "state":
            wl.check(chk, i, ddir)
        else:
            chk.expect("probe", digest([read(f"{ddir}/admission"), read(f"{ddir}/labels")]))
        c["evidence_pairs"] = rows(f"{ddir}/pairs")
        c["kept_ratio"] = float(read(f"{ddir}/admission")["keep"].mean())
        for d in (tdir, ddir):
            shutil.rmtree(d, ignore_errors=True)
        spans = {s.name: s for s in tracer.spans if s.op == i}
        c["spans"] = spans
        # the traced twin of the operation: the build for the batch
        # workloads, the admission for delta_ingest
        twin, twin_wall = (("functions.incremental", delta_wall) if wl.build_key == "state"
                           else ("pipeline", build_wall))
        c["orchestration"] = r["wall"] - sum(s.wall_s for s in spans.values() if s.parent == twin)
        c["overhead"] = twin_wall - r["wall"]
        its.append(c)
    tracer.dump(os.path.join(os.path.dirname(work), f"spans-{os.path.basename(work)}.json"))
    if not its:
        return attempted, attempted, {}
    return attempted, attempted - len(its), layer_metrics(its, width)


def layer_metrics(its: list[dict], width: int) -> dict:
    def m(f) -> float:
        return median([f(c, c["spans"]) for c in its])

    def wall(name):
        return lambda c, s: s[name].wall_s

    sig, cand, ver = "operators.signatures", "operators.candidates", "operators.verify"
    inc = "functions.incremental."
    return {
        "signatures.wall_s": (m(wall(sig)), "s"),
        "signatures.cpu_s": (m(lambda c, s: s[sig].cpu_s), "s"),
        "signatures.convs_per_s": (m(lambda c, s: c["convs"] / s[sig].wall_s), "1/s"),
        "signatures.util": (m(lambda c, s: s[sig].task_s / (s[sig].wall_s * width)), "ratio"),
        "candidates.wall_s": (m(wall(cand)), "s"),
        "candidates.pairs": (m(lambda c, s: c["cand_rows"]), "count"),
        "candidates.hot_buckets": (m(lambda c, s: c["hot_buckets"]), "count"),
        "candidates.max_bucket": (m(lambda c, s: c["max_bucket"]), "count"),
        "candidates.dropped_member_rows": (m(lambda c, s: c["dropped_member_rows"]), "count"),
        "candidates.shuffle_bytes": (m(lambda c, s: s[cand].shuffle_write_bytes), "bytes"),
        "candidates.spill_bytes": (m(lambda c, s: s[cand].spill_bytes), "bytes"),
        "verify.wall_s": (m(wall(ver)), "s"),
        "verify.pairs_in": (m(lambda c, s: c["cand_rows"]), "count"),
        "verify.pairs_out": (m(lambda c, s: c["pairs_out"]), "count"),
        "verify.yield": (m(lambda c, s: c["near_out"] / max(c["cand_rows"], 1)), "ratio"),
        "verify.pairs_per_s": (m(lambda c, s: c["cand_rows"] / s[ver].wall_s), "1/s"),
        "verify.shuffle_bytes": (m(lambda c, s: s[ver].shuffle_write_bytes), "bytes"),
        "cluster.wall_s": (m(wall("operators.cluster")), "s"),
        "cluster.edges": (m(lambda c, s: c["edges"]), "count"),
        "cluster.components": (m(lambda c, s: c["components"]), "count"),
        "substring.wall_s": (m(wall("operators.substring")), "s"),
        "substring.pairs": (m(lambda c, s: c["substring_pairs"]), "count"),
        "pipeline.orchestration_s": (m(lambda c, s: c["orchestration"]), "s"),
        "incremental.delta_sig_s": (m(wall(inc + "delta_sig")), "s"),
        "incremental.pairs_s": (m(wall(inc + "pairs")), "s"),
        "incremental.admission_s": (m(wall(inc + "admission")), "s"),
        "incremental.labels_s": (m(wall(inc + "labels")), "s"),
        "incremental.evidence_pairs": (m(lambda c, s: c["evidence_pairs"]), "count"),
        "incremental.kept_ratio": (m(lambda c, s: c["kept_ratio"]), "ratio"),
        "trace.overhead_s": (m(lambda c, s: c["overhead"]), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test sizes")
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "pcompress_spark", "__init__.py")):
        print(f"perfbench: no engine source (pcompress_spark/) under {root}", file=sys.stderr)
        return 2
    width = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", f"run-{args.workload}-{os.getpid()}")
    env = pin_env(root, work, width)
    sys.path.insert(0, root)
    print("session: " + json.dumps({"master": f"local[{width}]", **{
        k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")}}), file=sys.stderr)

    import inputs
    import workloads

    wl = workloads.make(args.workload, inputs.build(root, args.workload, args.seed, args.size))
    chk = workloads.Checker()
    spark = None
    try:
        # set-up: JVM and session start, the corpus state for delta_ingest,
        # and one untimed warm-up operation (the first operation in a fresh
        # JVM runs 2-3x slower, mostly JIT compilation)
        t0 = time.monotonic()
        spark = start_session(work, width)
        wl.prepare(spark, work)
        wl.op(spark, 0, f"{work}/warmup")
        setup_s = time.monotonic() - t0
        print(f"setup: {setup_s:.2f} s", file=sys.stderr)
        wl.check(chk, 0, f"{work}/warmup")
        shutil.rmtree(f"{work}/warmup", ignore_errors=True)
        measure = traced if args.trace else end_to_end
        extra = (width,) if args.trace else ()
        attempted, failed, metrics = measure(wl, chk, spark, work, args.seconds, *extra)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if metrics and not args.trace:
        metrics = {"setup_s": (setup_s, "s"), **metrics}
    for p in chk.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    correct = not chk.problems and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
