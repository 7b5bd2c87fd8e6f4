#!/usr/bin/env python3
"""Run one benchmark workload of graft for one seed.

    python3 perfbench/run.py --workload serve_ram --seed 1 --seconds 15 --trace 0

`--workload record` rewrites perfbench/expected/pipeline.json, the
pipeline outputs every run is checked against, from the current program.

Run from the repository root. The first run builds the program and the
benchmark from source (perfbench/build.py). Each run then starts one JVM
with a local Spark session on every available core, generates its inputs
from the seed, sets up several times, measures for at least `--seconds`,
checks every output against the benchmark's own answers, and prints each
metric by name, unit and sample count. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}, carrying the
end-to-end metrics with `--trace 0` and the per-layer metrics of a traced
window with `--trace 1` (spans land in .bench_results/).

Inputs are cached by (seed, shape) in .bench_cache/. Everything the program
writes (java.io.tmpdir, spark.local.dir, spark.sql.warehouse.dir) goes to
a fresh directory under .bench_run/ that is deleted when the run ends, so
no index or artifact built by another run or another commit is reused.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

XMX = "3g"
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def expected_names(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        sys.exit("perfbench: no program sources here (src/main/scala/graft): "
                 "run from the repository root")
    record = args.workload == "record"
    names = None if record else expected_names(root, args.trace == "1")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes, source_digest = build.ensure_built(root, build_dir)
    jars = build.spark_jars()

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(root, ".bench_run", f"{tag}-{os.getpid()}")
    results = os.path.join(root, ".bench_results")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    stamp = {"workload": args.workload, "seed": args.seed, "trace": int(args.trace),
             "seconds": args.seconds, "nproc": cores, "master": f"local[{cores}]",
             "driver_xmx": XMX, "commit": git_commit(root), "source_sha256": source_digest}
    print(json.dumps({"env": stamp}), flush=True)

    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{XMX}", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--cores", str(cores),
            "--root", root, "--work", run_dir, "--cache", os.path.join(root, ".bench_cache"),
            "--spans", os.path.join(results, f"spans-{tag}.jsonl"),
            "--report", os.path.join(run_dir, "report.json")])
    log_path = os.path.join(run_dir, "jvm.log")
    code, last = 1, None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
        lines = out.splitlines()
        if record and proc.returncode == 0:
            print("\n".join(lines))
            code = 0
            return
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"benchmark JVM exited with {proc.returncode}")
        for line in lines[:-1]:
            print(line)
        last = json.loads(lines[-1])
        if set(last) != {"correct", "attempted", "failed", "metrics"}:
            raise RuntimeError(f"unexpected result keys {sorted(last)}")
        if list(last["metrics"]) != names:
            raise RuntimeError(f"metrics {list(last['metrics'])} differ from BENCHMARK.json {names}")
        with open(os.path.join(run_dir, "report.json")) as fh:
            report = json.load(fh)
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump({"env": stamp, "result": last, "report": report}, fh, indent=1)
        code = 0 if last["correct"] else 1
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code, last = 3, None
    except Exception as e:  # noqa: BLE001 - report any failure, never a result
        print(f"perfbench: {e}", file=sys.stderr)
        code, last = 2, None
    finally:
        if code != 0 and os.path.exists(log_path):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
        shutil.rmtree(run_dir, ignore_errors=True)
    if last is not None:
        print(json.dumps(last), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
