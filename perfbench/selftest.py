"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks, in order:
  1. the output check rejects a deliberately corrupted cluster table;
  2. run.py refuses to run, without printing a result, in a directory that
     holds only BENCHMARK.json and perfbench/;
  3. every workload of BENCHMARK.json, at --size tiny, prints every
     end-to-end metric (--trace 0) and every per-layer metric (--trace 1)
     with the unit BENCHMARK.json names, and passes its own checks;
  4. every span of those traced runs is named after an engine layer.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("operators.signatures", "operators.candidates", "operators.verify",
          "operators.cluster", "operators.substring", "pipeline", "functions.incremental")


def fail(msg: str) -> None:
    print(f"SELFTEST FAILED: {msg}", file=sys.stderr)
    sys.exit(1)


def corrupted_clusters_fail(scratch: str) -> None:
    sys.path[:0] = [HERE, ROOT]
    import inputs
    import workloads

    wl = workloads.make("batch_mixed", inputs.build(ROOT, "batch_mixed", 1, "tiny"))
    out = os.path.join(scratch, "fake_output")

    def put(name: str, df: pd.DataFrame) -> None:
        os.makedirs(f"{out}/{name}", exist_ok=True)
        df.to_parquet(f"{out}/{name}/part-0.parquet", index=False)

    put("pairs", pd.DataFrame({"conv_id_a": ["a"], "conv_id_b": ["b"], "jaccard": [1.0],
                               "match_kind": ["exact"], "ih_a": [1], "ih_b": [2]}))
    put("substring_pairs", pd.DataFrame({"conv_id_a": ["a"], "conv_id_b": ["b"],
                                         "n_windows": [1]}))
    truth = wl.groups.rename(columns={"group": "cluster_id"})
    put("clusters", truth)
    chk = workloads.Checker()
    wl.check(chk, 0, out)
    if chk.problems:
        fail(f"the planted truth itself failed the check: {chk.problems}")
    # corruption: split every planted group into singletons
    put("clusters", truth.assign(cluster_id=truth["conv_id"]))
    recall = wl.check(chk, 1, out)
    if len(chk.problems) != 2 or recall >= workloads.RECALL_FLOOR:
        fail(f"corrupted cluster table passed (recall {recall}, problems {chk.problems})")
    print(f"ok: corrupted cluster table rejected ({'; '.join(chk.problems)})")


def refuses_without_engine(scratch: str) -> None:
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "delta_ingest",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or '"correct"' in p.stdout:
        fail("run.py ran in a directory without the engine source")
    print(f"ok: refuses without engine source (exit {p.returncode})")


def run(workload: str, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
                        "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"{workload} --trace {trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def main() -> int:
    scratch = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    corrupted_clusters_fail(scratch)
    refuses_without_engine(scratch)
    spans_before = set(glob.glob(os.path.join(ROOT, ".bench_work", "spans-*.json")))
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            if not res["correct"] or res["failed"]:
                fail(f"{w} --trace {trace}: outputs failed their checks")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{w} --trace {trace}: metrics {got} != BENCHMARK.json {want}")
            print(f"ok: {w} --trace {trace} prints all {len(want)} metrics with units")
    new = set(glob.glob(os.path.join(ROOT, ".bench_work", "spans-*.json"))) - spans_before
    names = set()
    for path in new:
        with open(path) as f:
            names.update((s["name"], s["parent"]) for s in json.load(f))
    bad = [n for n in names if not (n[0].startswith(LAYERS) and n[1] in LAYERS)]
    if not names or bad:
        fail(f"spans not named after engine layers: {bad or 'no spans recorded'}")
    print(f"ok: {len(names)} span names all belong to layers {', '.join(LAYERS)}")
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
