#!/usr/bin/env python3
"""graft benchmark: builds the repository and the harness from source, runs
one workload in a fresh JVM and prints one JSON result as the last line.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. Build outputs, inputs, traces and
temporary files go under .bench_build/ and the sbt target/ directories.
With --trace 1 the workload runs twice with the same seed, untraced and
then traced, so the tracing overhead of each end-to-end metric is known.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tail", "board")
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 175
# The JDK 17 module opens Spark needs outside spark-submit (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    return env


def build():
    """Compile the repository and the harness once per source state;
    returns the runtime classpath and whether it built now."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = fh.read().split("\n", 1)
        if got[0] == digest and len(got) == 2 and got[1].strip():
            return got[1].strip(), False
    log("building repository and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        log(f"build failed (exit {proc.returncode})")
        sys.exit(3)
    with open(os.path.join(HERE, "target", "classpath.txt")) as fh:
        cp = fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, True


def jvm_heap():
    """The JVM heap the repository's tier-1 test command gives this
    machine: half the RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(cp, args, deadline):
    # the CPUs this process may run on, as `nproc` counts them
    cores = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)
    env["SPARK_GRAFT_CPUS"] = cores
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xmx{jvm_heap()}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-cp", cp, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("harness timed out")
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for line in reversed(out.decode(errors="replace").splitlines()):
        if line.startswith("GRAFTBENCH "):
            return json.loads(line[len("GRAFTBENCH "):])
    log(f"harness exited {proc.returncode} without a result")
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opt = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources next to perfbench/: run from the root of a graft checkout")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp, built = build()
    deadline = (time.time() if built else start) + RUN_BUDGET_S
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    base = ["--workload", opt.workload, "--seed", str(opt.seed), "--seconds", str(opt.seconds),
            "--work", work, "--goldens", os.path.join(HERE, "board_goldens.txt")]
    try:
        plain = run_jvm(cp, base + ["--trace", "0"], deadline)
        traced = run_jvm(cp, base + ["--trace", "1"], deadline) if opt.trace and plain else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if plain is None or (opt.trace and traced is None):
        sys.exit(4)

    res = traced if opt.trace else plain
    attempted = plain["attempted"] + (traced["attempted"] if traced else 0)
    failed = plain["failed"] + (traced["failed"] if traced else 0)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {}
    if opt.trace:
        values = dict(res["metrics"])
        for name in e2e:
            values[f"trace.overhead.{name}"] = traced["metrics"][name] - plain["metrics"][name]
        known = {m["name"] for m in spec["per_layer"]}
        extra = sorted(set(values) - known - set(e2e))
        if extra:
            log(f"unlisted per-layer values: {extra}")
        for m in spec["per_layer"]:
            # a layer the workload does not exercise did no work: 0
            metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    else:
        for name, unit in e2e.items():
            metrics[name] = {"value": plain["metrics"][name], "unit": unit}
        late = plain["metrics"].get("gen.late_ms")
        if late is not None:
            log(f"generator ran at most {late:.1f} ms late")
    # a result with no samples is not a measurement
    correct = failed == 0 and all(plain["metrics"][n] > 0 for n in e2e)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
