#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload plan_roundtrip --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
repository (sbt, offline); later runs reuse the build until a source file
changes. Workloads, metrics and the artifact layout are described in
perfbench/README.md. `--mode probe` runs every `SparkEntry.queries` query twice and writes
perfbench/out/probe.tsv and perfbench/out/fingerprints.tsv instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
RUN_LIMIT_S = 175       # a run (after any build) must end within this
BUILD_LIMIT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        yield os.path.join(ROOT, f)


def source_id():
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0:
            return "git:" + r.stdout.strip()
    h = hashlib.sha256()
    for p in sorted(sources()):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return "sha256:" + h.hexdigest()[:16]


def build():
    stamp = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(p) < built for p in sources() if os.path.exists(p)):
            return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {r.returncode}); log in {log}")


def heap():
    """Half of RAM, clamped to 2-8 GiB: the tier-1 test command's sizing."""
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(8, max(2, gib))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--mode", choices=["run", "probe"], default="run")
    ap.add_argument("--verified", help="probe: graft.Verify's output directory")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a full checkout")
    data = os.path.join(HERE, "data", "sf0.01")
    if not os.path.isdir(data):
        fail(f"fixture tables missing: {data}")
    build()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-trace{a.trace}-seed{a.seed}"
    result = os.path.join(WORK, "result.json")

    with open(os.path.join(TARGET, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(TARGET, "jvm-options.txt")) as f:
        jvm_opts = [l for l in f.read().splitlines() if l]
    cores = len(os.sched_getaffinity(0))
    # C1 only: a run's JVM lives about 30 s, far too short for C2 to settle.
    # Under C2 the JIT took 15-20 s of CPU inside a 7 s window and ops sped
    # up 30% from pass to pass; C1 finishes compiling during the warm-up.
    # A 1 GiB initial heap: growing from the default made the GC count in
    # the window range from 4 to 52 between runs of the same work.
    cmd = ["java", *jvm_opts, f"-Xmx{heap()}", "-Xms1g", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--mode", a.mode, "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
           "--data", data, "--expected", os.path.join(HERE, "expected", "fingerprints.tsv"),
           "--out", OUT, "--result", result, "--source", source_id(),
           "--local", os.path.join(WORK, "local"),
           "--warehouse", os.path.join(WORK, "warehouse")]
    if a.verified:
        cmd += ["--verified", os.path.abspath(a.verified)]
    log = os.path.join(OUT, f"{tag}.log")
    limit = 3600 if a.mode == "probe" else RUN_LIMIT_S
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log in {log}")
    if a.mode == "probe":
        return
    with open(result) as f:
        line = json.loads(f.read())
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
