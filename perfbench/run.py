#!/usr/bin/env python3
"""The engine's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: mor_bulk_tail, cow_trickle_stream, read_serve, operator_suite
(see perfbench/README.md). The first run builds the engine and the benchmark
from source into .bench_build/ (perfbench/build.py). Each run starts one JVM
with a local Spark session sized to this host (all cores, heap and off-heap
from /proc/meminfo), generates its inputs from the seed, sets up, measures a
closed loop for --seconds, and checks its outputs against an independent
reference. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a separate traced run, with spans and a per-layer
summary written to .bench_build/out/<run>/.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}
The line before it holds the run's details (host, seed, percentiles used).
The exit code is 0 only for a correct run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("mor_bulk_tail", "cow_trickle_stream", "read_serve", "operator_suite")
JVM_SECONDS = 165  # a run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def clamp(v, lo, hi):
    return max(lo, min(hi, v))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group and always reaps it."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        bench = spec()
        classes, jars = build.build()
    except Exception as e:  # noqa: BLE001 - any failure to build ends the run
        fail(f"cannot build the benchmark: {e}")

    cores = len(os.sched_getaffinity(0))
    mem_mb = mem_total_mb()
    heap_mb = clamp(mem_mb // 4, 1024, 4096)
    offheap_mb = clamp(mem_mb // 16, 256, 1024)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work = os.path.join(build.BUILD, "work", run_id)
    out = os.path.join(build.BUILD, "out", run_id)
    for d in (os.path.join(work, "tmp"), out):
        os.makedirs(d, exist_ok=True)

    cmd = ["java", f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=64"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--cores", str(cores), "--offheap-mb", str(offheap_mb)]
    t0 = time.time()
    rc = run_jvm(cmd, os.path.join(out, "jvm.log"))
    wall = time.time() - t0
    try:
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run produced no result (exit {rc}); see {out}/jvm.log")

    problems = list(res["problems"])
    failed = res["failed"]
    attempted = res["attempted"]
    if rc is None:
        problems.append(f"run exceeded {JVM_SECONDS} s")
    if a.workload == "operator_suite" and res["completed"]:
        d = res["detail"]
        try:
            bad = oracle.check(d["operator_inputs"], d["operator_outputs"], d["operator_queries"])
        except Exception as e:  # noqa: BLE001 - an oracle that cannot run is a failed check
            bad = [f"oracle check could not run: {e}"]
        failed += len(bad)
        problems += bad
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    produced = res["per_layer"] if a.trace else res["end_to_end"]
    listed = bench[kind]
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        # a workload run by hand also reports the metrics BENCHMARK.json does not list
        known = {m["name"] for m in listed}
        listed = listed + [{"name": k, "unit": unit_of(k)} for k in sorted(produced) if k not in known]
    metrics = {}
    for m in listed:
        if m["name"] in produced:
            value = produced[m["name"]]
        elif a.trace:
            value = 0.0  # a layer this workload does not exercise
        else:
            problems.append(f"end-to-end metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = bool(res["completed"]) and rc == 0 and failed == 0 and not problems

    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "mem_total_mb": mem_mb, "heap_mb": heap_mb, "offheap_mb": offheap_mb,
        "error_rate": failed / max(1, attempted), "run_wall_s": round(wall, 3),
        "out_dir": os.path.relpath(out, ROOT), "problems": problems, **res["detail"],
    }
    build_id = os.path.basename(classes)
    if not a.trace:
        with open(os.path.join(out, "end_to_end.json"), "w") as f:
            json.dump({"build": build_id, "seconds": a.seconds, **res["end_to_end"]}, f)
    else:
        detail["tracing_overhead"] = tracing_overhead(a.workload, res["end_to_end"], out,
                                                      build_id, a.seconds)
    print(json.dumps({"perfbench": detail}, default=str))
    if not correct:
        print("perfbench: RUN FAILED: " + "; ".join(problems or ["see the details above"]),
              file=sys.stderr, flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    """Unit of a metric outside BENCHMARK.json, from its name."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_pct", "%"), ("_mb", "MiB")):
        if name.endswith(suffix):
            return unit
    return "count"


def tracing_overhead(workload, traced, out, build_id, seconds):
    """Relative change of each end-to-end metric of this traced run against
    the median of the untraced runs of the same workload, build and length
    in this checkout. Written to the run's summary and returned; None
    without such runs."""
    untraced = []
    root = os.path.dirname(out)
    for d in os.listdir(root):
        p = os.path.join(root, d, "end_to_end.json")
        if d.startswith(workload + "-") and "-trace0-" in d and os.path.exists(p):
            with open(p) as f:
                e2e = json.load(f)
            if e2e.get("build") == build_id and e2e.get("seconds") == seconds:
                untraced.append(e2e)
    if not untraced:
        return None
    result = {"untraced_runs": len(untraced)}
    for k, v in traced.items():
        base = sorted(u[k] for u in untraced if k in u)
        if base and base[len(base) // 2]:
            med = base[len(base) // 2]
            result[k] = (v - med) / med
    path = os.path.join(out, "summary.json")
    if os.path.exists(path):
        with open(path) as f:
            summary = json.load(f)
        summary["tracing_overhead"] = result
        with open(path, "w") as f:
            json.dump(summary, f)
    return result


if __name__ == "__main__":
    main()
