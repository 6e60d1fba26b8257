#!/usr/bin/env python3
"""Benchmark for the graft engine: builds the harness, runs one workload.

    python3 perfbench/run.py --workload discover|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run gets a fresh scratch
directory under .bench_work/ that is deleted when it ends. The last line
of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json when --trace is 0, and every
per-layer metric when it is 1 (the metrics of a layer the workload does not
run read 0; a metric of a layer it runs that comes out missing fails the
run). The exit code is non-zero when an output check failed, a metric is
missing, the build failed, or the repository sources are missing.

Extra option (development only):
    --record-digests      store this run's output digests as the recorded
                          ones for its seed in perfbench/digests.json
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
LAUNCHER = os.path.join(HERE, "target", "launcher.args")
DIGESTS = os.path.join(HERE, "digests.json")
MAIN = "graft.perfbench.Main"
WORKLOADS = ("discover", "curate")
# Per-layer metrics (by name prefix) of the layers a workload does not run;
# the traced run reports them as 0. Every other per-layer metric must be
# measured.
NOT_RUN = {
    "discover": ("pipeline.",),
    "curate": ("url.in_round", "extract.in_round", "frontier.", "crawl.", "dedup.", "store.",
               "analytics."),
}
# A/B switches and profiling hooks of the engine: a run with any of them
# set would not measure the default engine.
REFUSED_ENV = ("GRAFT_SEQ_BLOOM", "GRAFT_SEQ_WRITES", "GRAFT_TIMING", "GRAFT_JVM_OPTS")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_id():
    """Hash of every source the build compiles, in path order."""
    h = hashlib.sha1()
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def wait(proc, timeout):
    """Waits for `proc`; past `timeout` kills its whole process group (sbt
    and Spark start children) and waits for it. Returns (returncode, stdout)."""
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def build(sid):
    stamp = os.path.join(BUILD_DIR, "built.id")
    if os.path.exists(LAUNCHER) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == sid:
                return
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLauncher"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(proc, BUILD_TIMEOUT_S)[0]
    if rc != 0 or not os.path.exists(LAUNCHER):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log in {os.path.relpath(log, ROOT)})", 1)
    with open(stamp, "w") as fh:
        fh.write(sid + "\n")


def heap_gb():
    """The engine's Tier-1 heap size: half the RAM, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def check_metrics(result, workload, trace):
    """The result must carry exactly BENCHMARK.json's metrics, by unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    extra = sorted(set(got) - set(want))
    if extra:
        fail(f"metrics not in BENCHMARK.json: {extra}", 1)
    if trace:
        for name in sorted(set(want) - set(got)):
            if name.startswith(NOT_RUN[workload]):
                got[name] = {"value": 0, "unit": want[name]}
    missing = sorted(set(want) - set(got))
    if missing:
        fail(f"{'per-layer' if trace else 'end-to-end'} metrics not measured: {missing}", 1)
    wrong = sorted(n for n in want if got[n]["unit"] != want[n])
    if wrong:
        fail(f"metrics with a unit other than BENCHMARK.json's: {wrong}", 1)
    result["metrics"] = {n: got[n] for n in want}


def record_digests(lines):
    observed = {}
    for line in lines:
        if line.startswith('{"digests"'):
            observed = json.loads(line)["digests"]
    recorded = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            recorded = json.load(fh)
    recorded.update(observed)
    with open(DIGESTS, "w") as fh:
        json.dump(dict(sorted(recorded.items())), fh, indent=1)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        fail(f"refusing to run with {', '.join(refused)} set")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    sid = source_id()
    build(sid)

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"@{LAUNCHER}", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", f"-XX:ActiveProcessorCount={nproc}",
           MAIN, "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--digests", DIGESTS, "--source-id", sid,
           "--launch-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        rc, out = wait(proc, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"harness exited {rc} without a result", 1)
    result = json.loads(lines[-1])
    check_metrics(result, a.workload, a.trace == 1)
    if a.record_digests and rc == 0:
        record_digests(lines)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    sys.exit(rc)


if __name__ == "__main__":
    main()
