#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload fleet_etl --seed 1 --seconds 20 --trace 0

Workloads: fleet_etl, stat_calls (see perfbench/README.md).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
split. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. The exit code is non-zero when an
output is wrong or the benchmark cannot run.

The first run builds the engine and the harness from source with sbt;
later runs reuse the build while the sources are unchanged. Everything
the benchmark writes goes under perfbench/work/.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
TMP = os.path.join(WORK, "tmp")
CORPUS = os.path.join(BENCH, "corpus")
WORKLOADS = ("fleet_etl", "stat_calls")
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(d, "build.sbt") for d in (ROOT, BENCH)] +
                   [os.path.join(d, "project", "build.properties") for d in (ROOT, BENCH)])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                       f" -Djava.io.tmpdir={TMP} -XX:-UsePerfData")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        check=True).stdout.decode()
    cp = [ln for ln in out.splitlines() if ln.strip() and "classes" in ln
          and not ln.startswith("[")][-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala; "
            "run from a checkout of the repository")
        return 2
    os.makedirs(TMP, exist_ok=True)
    cp = build()
    run_dir = os.path.join(WORK, a.workload)
    fleet_dir = os.path.join(WORK, "fleet")
    shutil.rmtree(run_dir, ignore_errors=True)
    generate_s = 0.0
    if a.workload == "fleet_etl":
        import fleet
        t0 = time.perf_counter()
        plan = fleet.generate(a.seed, CORPUS, fleet_dir)
        generate_s = time.perf_counter() - t0
        with open(os.path.join(fleet_dir, "plan.txt"), "w") as fh:
            fh.writelines(f"{k}={v}\n" for k, v in plan.items())
    os.makedirs(run_dir)
    try:
        # relative paths the engine writes land in the run directory
        rc = subprocess.run([
            "java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP}", *JAVA_OPTS,
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--corpus", CORPUS,
            "--fleet", fleet_dir, "--generate-s", repr(generate_s)],
            cwd=run_dir, stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(fleet_dir, ignore_errors=True)
        shutil.rmtree(TMP, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
