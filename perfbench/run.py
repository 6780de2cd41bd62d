"""graft benchmark runner.

    python3 perfbench/run.py --workload kg_resolve|stream_ingest \
        --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (perfbench/build.py), writes the
seed's inputs in a JVM of its own if they are not cached yet, then runs one
benchmark JVM for the workload. The last line of standard output is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). Per-layer metrics of layers a workload does
not run read 0. Diagnostics (steal, calibration loop, generator lateness,
failed checks) are printed on the line before it.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's directory
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("kg_resolve", "stream_ingest")
HEAP = "3g"  # one pinned heap for every JVM: fits a 15 GB host with room to spare
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(classes, jars, args, log, deadline):
    bdir = build.build_dir()
    tmp = bdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graftbench.Main", "--build", str(bdir)] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"JVM timed out: {' '.join(args)}")
    if proc.returncode != 0:
        fail(f"JVM exited with {proc.returncode}: {' '.join(args)} (log: {log.name})")
    return out.splitlines()


def tagged(lines, tag):
    return [ln[len(tag) + 1:] for ln in lines if ln.startswith(tag + " ")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    spec_path = build.ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail(f"missing {spec_path}")
    spec = json.loads(spec_path.read_text())
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    known = {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}

    try:
        classes = build.build()
        jars = build.spark_jars()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    built = time.monotonic() - start
    # 170 s for the run itself, plus the build when this run had to compile
    deadline = start + built + 170

    bdir = build.build_dir()
    # scratch of earlier runs: pass outputs, Spark's local dirs, JVM temp files
    scratch = [bdir / "work", bdir / "spark-local", bdir / "tmp"]
    for d in scratch:
        shutil.rmtree(d, ignore_errors=True)
    (bdir / "logs").mkdir(parents=True, exist_ok=True)
    log_path = bdir / "logs" / f"{a.workload}-{a.seed}-{a.trace}.log"
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    try:
        with open(log_path, "w") as log:
            run_jvm(classes, jars, args + ["--generate-only"], log, deadline)
            lines = run_jvm(classes, jars, args, log, deadline)
    finally:
        for d in scratch:
            shutil.rmtree(d, ignore_errors=True)

    res = tagged(lines, "GRAFTBENCH_RESULT")
    if not res:
        fail(f"no result line (log: {log_path})")
    res = json.loads(res[-1])
    diag = json.loads((tagged(lines, "GRAFTBENCH_DIAG") or ["{}"])[-1])
    metrics = res["metrics"]
    unknown = sorted(set(metrics) - known)
    if unknown:
        fail(f"metrics not in BENCHMARK.json: {unknown}")
    missing = sorted(set(wanted) - set(metrics))
    if not a.trace and missing:
        fail(f"end-to-end metrics missing: {missing}")
    diag["not_run_layers"] = missing
    out = {m: {"value": metrics[m]["value"] if m in metrics else 0.0, "unit": u}
           for m, u in wanted.items()}
    print(json.dumps({"diag": diag}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
