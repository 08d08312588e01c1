#!/usr/bin/env python3
"""The repository benchmark: one workload per run on local[nproc].

    python3 perfbench/run.py --workload extract|commit|battery \
        --seed N --seconds S --trace 0|1 [--pair]

Builds the program and the benchmark from source (build.py), starts one
JVM for the workload and passes its report through: `# ` lines are the
human-readable report, and the last line is one JSON object with the
keys correct, attempted, failed and metrics. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (README.md).

Everything the run writes stays under perfbench/.work. The committed
scaling_history.jsonl and bench_last.json are hashed before and after;
a change to either fails the run.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("extract", "commit", "battery")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "battery.tsv")
GUARDED = ("scaling_history.jsonl", "bench_last.json")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
TIMEOUT_S = 170  # a run must end within 180 s; --pair adds about two minutes


def file_digests():
    out = {}
    for name in GUARDED:
        p = os.path.join(ROOT, name)
        if os.path.exists(p):
            with open(p, "rb") as f:
                out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def echo_report(stream):
    for line in stream:
        if line.startswith("# "):
            print(line.rstrip("\n"), flush=True)


def run_workload(args, classes, nproc):
    workload = args.workload
    work = os.path.join(build.WORK, "run-" + workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:MaxGCPauseMillis=1000", "-XX:G1HeapRegionSize=16m",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(classes), "perfbench.Main",
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--nproc", str(nproc), "--pair", "1" if args.pair else "0",
        "--data", DATA, "--expected", EXPECTED, "--classes", classes,
        "--spawn-ms", str(int(time.time() * 1000)),
    ]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True, env=build.JAVA_ENV)
        reader = threading.Thread(target=echo_report, args=(proc.stdout,), daemon=True)
        reader.start()
        try:
            proc.wait(timeout=TIMEOUT_S + (300 if args.pair else 0))
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"{workload}: timed out\n")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
        reader.join()
    shutil.rmtree(tmp, ignore_errors=True)
    result = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"{workload}: JVM exit {proc.returncode}\n")
        return None
    with open(result) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pair", action="store_true",
                   help="extract: also run the host-sized ScalePair (about 2 minutes)")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from a checkout of the repository (src/main/scala missing)")
    if not os.path.isdir(DATA):
        sys.exit(f"perfbench: battery tables missing under {DATA}")
    guarded = file_digests()
    classes = build.build()
    nproc = len(os.sched_getaffinity(0))

    final = run_workload(args, classes, nproc)
    if final is None:
        sys.exit(f"perfbench: workload {args.workload} failed")
    print("# host " + json.dumps(final.pop("host"), sort_keys=True), flush=True)
    after = file_digests()
    changed = [n for n in GUARDED if guarded.get(n) != after.get(n)]
    if changed:
        print(f"# FAIL committed files changed by the run: {changed}")
        final["correct"] = False
        final["attempted"] += 1
        final["failed"] += 1
    print(json.dumps(final))


if __name__ == "__main__":
    main()
