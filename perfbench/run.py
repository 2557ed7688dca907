"""Operator benchmark of the graft library.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the library and the Scala loop (perfbench.Main) from source
(perfbench/build.py), generates the workload's inputs from --seed three times
(perfbench/gen.py; the median counts as set-up), runs one warm-up iteration
and then iterations for at least --seconds in a closed loop (one client, one
call at a time, local[nproc]), checks every call's output from the warm-up
against DuckDB or the planted truth (perfbench/check.py, untimed), and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Workloads, metrics and their directions are listed in BENCHMARK.json; the
full record of a run goes to .bench_build/runs/<workload>-s<seed>-t<trace>/.
Exits non-zero on a wrong answer, a failed call or a failed build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170
SETUP_REPEATS = 3
# The reference's published merge_intervals numbers (10M x 1M rows):
# wall seconds and peak memory increment in MiB.
BASELINE = {"contain": (5.47, 2756), "overlap": (9.73, 2682)}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    try:
        cp = build.build(root, out)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    t_build = time.time() - t0
    t0 = time.time()  # the build is the one step allowed past the deadline

    run_dir = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    gen_s = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        g0 = time.perf_counter()
        gen.generate(a.workload, inputs, a.seed)
        gen_s.append(time.perf_counter() - g0)

    results = os.path.join(run_dir, "results")
    result_file = os.path.join(run_dir, "jvm.json")
    cmd = [build.java(), "-Xmx3g", "-Xss8m", *build.JAVA_OPTS,
           f"-Djava.io.tmpdir={run_dir}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--inputs", inputs, "--results", results, "--out", result_file]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, env=env)
    try:
        jvm_out, _ = proc.communicate(timeout=max(30, DEADLINE_S - (time.time() - t0) - 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log("JVM timed out")
        return 3
    with open(os.path.join(run_dir, "jvm.log"), "w") as f:
        f.write(jvm_out)
    if proc.returncode != 0 or not os.path.exists(result_file):
        sys.stderr.write(jvm_out[-6000:])
        log(f"JVM exited with {proc.returncode}")
        return 3
    res = json.load(open(result_file))

    t_check = time.time()
    problems, quality = check.run(a.workload, inputs, results, res["results_rows"])
    problems += res["row_mismatch"]
    problems += [f"call failed: {f}" for f in res["failures"]]
    for p in problems:
        log(f"WRONG: {p}")
    for k, v in quality.items():
        log(f"{k} {v:.4f}")
    if not res["listener_complete"]:
        log("listener bus did not drain in time: per-layer counts are incomplete")
    correct = not problems

    setup_s = statistics.median(gen_s) + res["setup"]["session_s"] + res["setup"]["warmup_s"]
    if a.trace:
        metrics = res["layer"]
    else:
        metrics = {"setup_s": {"value": setup_s, "unit": "s"}, **res["e2e"]}
    in_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(inputs) for f in fs)
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "correct": correct, "problems": problems, "quality": quality,
        "build_s": t_build, "check_s": time.time() - t_check,
        "setup": {"generate_s": gen_s, **res["setup"], "setup_s": setup_s},
        "inputs": {"tables": gen.describe(a.workload, inputs), "bytes": in_bytes,
                   "spark_execution_memory_bytes": res["spark_execution_memory_bytes"],
                   "input_to_execution_memory": in_bytes / res["spark_execution_memory_bytes"]},
        "host": res["host"], "listener_complete": res["listener_complete"],
        "metrics": {**res["e2e"], **res["layer"]}, "call_ms": res["call_ms"],
        "iterations": res["iterations"],
    }
    if a.workload == "bulk":
        artifact["baseline"] = baseline_table(res)
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    log(f"artifact: {os.path.relpath(os.path.join(run_dir, 'artifact.json'), root)}")
    for k, v in sorted(metrics.items()):
        print(f"{k:32s} {v['value']:.6g} {v['unit']}")
    print("per-call latency (not gated): p50 {p50:.1f} ms, p90 {p90:.1f} ms over {samples} calls"
          .format(**res["call_ms"]))
    for row in artifact.get("baseline", []):
        print("baseline " + json.dumps(row))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def baseline_table(res):
    """Containment and overlap call times and output rows beside the
    reference's published numbers. Informational only: this runs the shape at
    1/40 scale, and the peak is the whole iteration's largest stage, not one
    call's. `rows_ratio` near 1 confirms the generated shape's selectivity."""
    rows = []
    for name, (ref_s, ref_mib) in BASELINE.items():
        times = [c["build_s"] + c["exec_s"] for it in res["iterations"] if not it["traced"]
                 for c in it["calls"] if c["name"] == name]
        out_rows = int(res["results_rows"][name])
        ref_rows = gen.REFERENCE_ROWS[name] / gen.SCALE
        rows.append({"call": name, "median_s": statistics.median(times) if times else None,
                     "reference_s": ref_s,
                     "peak_exec_mib": res["e2e"].get("peak_exec_mib", {}).get("value"),
                     "reference_peak_mib": ref_mib,
                     "rows": out_rows, "reference_rows_scaled": ref_rows,
                     "rows_ratio": out_rows / ref_rows,
                     "scale": f"1/{gen.SCALE} of the reference rows"})
    return rows


if __name__ == "__main__":
    sys.exit(main())
