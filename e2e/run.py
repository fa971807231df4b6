#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the repository root:

    python3 e2e/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark program
with sbt (offline) into .bench_build/; later runs start the JVM directly. The last
line of standard output is the result object; the lines before it carry
the host stamp, the workload's own metrics and the output checks. Exits
non-zero, without a result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.json")
WORKLOADS = ("train_covtype", "curate_ingest")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
BUILD_LIMIT_S = 600
HEAP = "3g"


def source_files():
    """Every file the build reads: the engine's sources and build, and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "META-INF" in d]
    return files


def digest():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(want):
    """Builds with sbt unless the launch file matches the sources.
    Returns None on failure, else whether it built."""
    stamp = os.path.join(BUILD, "digest.txt")
    if os.path.exists(LAUNCH) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return False
    if shutil.which("sbt") is None:
        print("e2e: sbt not found", file=sys.stderr)
        return None
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
            "-De2e.launch=" + LAUNCH]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(LAUNCH):
        print(f"e2e: build failed (rc {rc}); see {log}", file=sys.stderr)
        return None
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return True


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle", action="store_true",
                    help="check the curation stages against the oracled queries")
    a = ap.parse_args()
    t0 = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        print("e2e: the engine sources are not next to the benchmark; nothing to measure",
              file=sys.stderr)
        return 2
    want = digest()
    built = build(want)
    if built is None:
        return 3
    with open(LAUNCH) as fh:
        launch = json.load(fh)

    work = os.path.join(ROOT, ".bench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp] + launch["java_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--root", ROOT] + (["--oracle"] if a.oracle else []))
    env = dict(os.environ, E2E_SOURCE_DIGEST=want, E2E_COMMIT=commit())
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    result = []

    def relay(stream):
        for line in stream:
            if line.startswith("E2E_RESULT "):
                result.append(line[len("E2E_RESULT "):].strip())
            else:
                print(line.rstrip("\n"), flush=True)

    # a run that built may take up to the first run's allowance
    allowance = FIRST_RUN_LIMIT_S if (built or a.oracle) else RUN_LIMIT_S
    limit = max(30.0, allowance - (time.time() - t0))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        reader = threading.Thread(target=relay, args=(proc.stdout,), daemon=True)
        reader.start()
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            reader.join(timeout=5)
            print(f"e2e: run exceeded {limit:.0f} s; see {log}", file=sys.stderr)
            return 4
        reader.join(timeout=30)
    if a.oracle:
        return rc
    if rc != 0 or not result:
        print(f"e2e: run failed (rc {rc}); see {log}", file=sys.stderr)
        return 5
    print(result[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
