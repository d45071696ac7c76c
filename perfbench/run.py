#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <cache_loop|batch> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark's Scala code with sbt (offline) into `perfbench/target`; later runs
reuse that build while the sources are unchanged. Each run generates its
inputs from the seed under `.bench_build/perfbench/<workload>/`, runs one
JVM (`perfbench.Main`), checks its outputs against the reference
computations in `check.py`, and prints one JSON object as the last line
of standard output: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. The traced run also writes its per-layer
metrics to `.bench_build/perfbench/trace-<workload>.json`. The batch JVM
asks to be pinned to one CPU once its Spark session has started; this
script does that (see `wait_pinning`).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("cache_loop", "batch")
RUN_BUDGET_S = 170          # one run must end within 180 s
BUILD_BUDGET_S = 840        # the first run may also build
JVM_HEAP = "2g"
# warm-up ends at its plateau (see perfbench.Main) or at this cap, which
# keeps a whole run near a minute; for batch it counts from the end of
# the first pass
WARMUP_CAP_S = {"cache_loop": 20, "batch": 6}
# batch compiles with C1 only: under C2 its passes still shortened after a
# minute (Spark's driver code is large), so the level a window measured
# depended on how far compiling had got; C1 does most of its work in the
# first two passes
JVM_FLAGS = {"cache_loop": [], "batch": ["-XX:TieredStopAtLevel=1"]}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest(root):
    """Hash of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, state):
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    stamp, cp_file = os.path.join(state, "build.stamp"), os.path.join(state, "classpath.txt")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("[perfbench] building with sbt ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_BUDGET_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def wait_pinning(proc, work, timeout_s):
    """Waits for the JVM to end. When it asks (file `pin.req`), pins every
    thread of it to one CPU and answers with `pin.ack`; threads it starts
    later inherit the pinning from their creators. Returns the exit code."""
    req, ack = os.path.join(work, "pin.req"), os.path.join(work, "pin.ack")
    cpu = max(os.sched_getaffinity(0))
    deadline = time.time() + timeout_s
    pinned_at = None
    while proc.poll() is None:
        if time.time() > deadline:
            proc.kill()
            proc.wait()
            raise SystemExit("[perfbench] run timed out")
        # pin on the request and again for a second after it, to catch a
        # thread started while the first sweep ran
        if os.path.exists(req) and (pinned_at is None or time.time() - pinned_at < 1):
            for tid in os.listdir(f"/proc/{proc.pid}/task"):
                try:
                    os.sched_setaffinity(int(tid), {cpu})
                except (ProcessLookupError, FileNotFoundError):
                    pass
            if pinned_at is None:
                pinned_at = time.time()
                open(ack, "w").close()
        time.sleep(0.05)
    return proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] run from the repository root: src/main/scala/graft not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)
    t_start = time.time()

    work = os.path.join(state, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    clients = max(1, (os.cpu_count() or 2) // 2)
    inputs = gen.write_inputs(args.workload, args.seed, work, clients)

    max_warm = WARMUP_CAP_S[args.workload]
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC"]
           + JVM_FLAGS[args.workload]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, work, str(args.seconds),
              str(args.trace), str(clients), str(max_warm)])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = wait_pinning(proc, work, RUN_BUDGET_S - 15 - (time.time() - t_start))
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"[perfbench] JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    if args.workload == "batch" and not res["info"]["pinned"]:
        raise SystemExit("[perfbench] the batch JVM was not pinned to one CPU")

    problems = check.verify(args.workload, work, res, inputs)
    for p in problems:
        log("[perfbench] CHECK FAILED:", p)
    log("[perfbench] info:", json.dumps({k: v for k, v in res["info"].items()
                                           if k not in ("warmup_rates", "query_s")}))

    if args.trace:
        wanted = spec["per_layer"]
        got = res["per_layer"]
        metrics = {m["name"]: {"value": got.get(m["name"], {"value": 0.0})["value"],
                               "unit": m["unit"]} for m in wanted}
        with open(os.path.join(state, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics,
                       "end_to_end_untraced_half": res["end_to_end"]}, f, indent=1)
    else:
        got = res["end_to_end"]
        metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
