#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the benchmark (an sbt
project in this directory that compiles the engine's main sources with the
harness) and generates the input tables; both are cached under
`.bench_build/perfbench/` and rebuilt when their sources change. The last
line of standard output is the JSON result.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("queries", "stream_predict")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scala_files(d):
    return glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile once per source state; returns the runtime classpath.

    sbt compiles into one shared target directory, so each source state
    gets its own copy of the compiled classes (`classes-<stamp>`) and the
    cached classpath points at that copy: going back to earlier sources
    runs the classes built from them, not the last ones compiled.
    """
    stamp = digest(scala_files(ENGINE_SRC) + scala_files(os.path.join(HERE, "src", "main")) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(WORK, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building the benchmark (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime / fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=logf, stdin=subprocess.DEVNULL, text=True)
        logf.write(out)
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if code != 0 or not lines:
        raise SystemExit(f"benchmark build failed (see {WORK}/build.log)")
    compiled = os.path.realpath(os.path.join(HERE, "target", "scala-2.13", "classes"))
    entries = lines[-1].strip().split(os.pathsep)
    if compiled not in [os.path.realpath(e) for e in entries]:
        raise SystemExit(f"compiled classes {compiled} not on the exported classpath")
    classes = os.path.join(WORK, f"classes-{stamp}")
    shutil.rmtree(classes, ignore_errors=True)
    shutil.copytree(compiled, classes)
    cp = os.pathsep.join(classes if os.path.realpath(e) == compiled else e for e in entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def java(cp, main_args, timeout):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx2g", f"-Djava.io.tmpdir={WORK}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + main_args)
    with open(os.path.join(WORK, "jvm.log"), "a") as errf:
        return run_group(cmd, timeout, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                         stderr=errf, stdin=subprocess.DEVNULL, text=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "record", "survey"), default="run",
                    help="record: rewrite fingerprints.txt; survey: measure every "
                         "query of the 14 packs into query_survey.tsv (see README.md)")
    a = ap.parse_args()
    if a.mode == "run" and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()
    data = os.path.join(WORK, "data-" + digest([os.path.join(
        HERE, "src", "main", "scala", "perfbench", "DataGen.scala")]))
    common = ["--work", WORK, "--data", data]
    if not os.path.exists(os.path.join(data, "_READY")):
        log("generating input tables")
        code, _ = java(cp, ["--mode", "generate"] + common, BUILD_TIMEOUT_S)
        if code != 0:
            raise SystemExit(f"data generation failed (see {WORK}/jvm.log)")
        open(os.path.join(data, "_READY"), "w").close()

    if a.mode != "run":
        out_arg = (["--fingerprints", os.path.join(HERE, "fingerprints.txt")] if a.mode == "record"
                   else ["--out", os.path.join(HERE, "query_survey.tsv")])
        code, out = java(cp, ["--mode", a.mode] + out_arg + common, 3 * BUILD_TIMEOUT_S)
        if code != 0:
            raise SystemExit(f"{a.mode} failed (see {WORK}/jvm.log)")
        print(out, end="")
        return

    code, out = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--fingerprints", os.path.join(HERE, "fingerprints.txt")] + common,
                     RUN_TIMEOUT_S)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        raise SystemExit(f"benchmark run failed with exit code {code} (see {WORK}/jvm.log)")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
