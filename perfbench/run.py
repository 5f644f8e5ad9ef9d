#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Builds the graft library and the benchmark from source with sbt on first use
(the build is reused while no source file changes), generates the workload's
inputs (cached per seed and shape), prepares a serving workload's graph in a
JVM of its own (cached per source version and input set), then runs the
workload in one JVM and relays its output. The last line of standard output is the result
object. The exit code is non-zero when the build fails, an output check fails,
or the checkout holds no graft sources.
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
WORK = os.path.join(HERE, "work")
SPEC = os.path.join(HERE, "workloads.json")
INPUT_SETS_KEPT = 6
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
MAIN = "perfbench.Main"
RUN_TIMEOUT_S = 165
PREPARE_TIMEOUT_S = 120
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    out = []
    for top in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, top)):
            out.append(top)
    for tree in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Returns (classpath, source stamp), building first if a source changed."""
    want = stamp()
    if os.path.isfile(CLASSPATH):
        with open(CLASSPATH) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip(), want
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    print("perfbench: building graft and the benchmark with sbt", file=sys.stderr)
    p = subprocess.run(
        [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        fail("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(want + "\n" + cp + "\n")
    return cp, want


def java(cp, args, timeout_s):
    """Runs perfbench.Main with `args` in a JVM of its own process group;
    returns (exit code, stdout). The JVM is killed if it outlives `timeout_s`
    or this script is interrupted."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    exe = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [exe, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    proc = subprocess.Popen(cmd + ["-cp", cp, MAIN] + args, cwd=ROOT,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        fail(f"perfbench.Main {' '.join(args[:2])} did not finish within {timeout_s} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def prepared_graph(cp, src_stamp, inputs):
    """The served graph of `inputs`, built and checked by its own JVM the
    first time this source version serves this input set."""
    root = os.path.join(WORK, "graphs")
    d = os.path.join(root, f"{src_stamp[:16]}-{os.path.basename(inputs)}")
    if not os.path.isfile(os.path.join(d, "_CHECKED")):
        shutil.rmtree(root, ignore_errors=True)
        rc, _ = java(cp, ["--prepare", d, "--work", WORK, "--inputs", inputs],
                     PREPARE_TIMEOUT_S)
        if rc != 0:
            fail("the served graph failed to build or failed its check")
    return d


def run_one(cp, src_stamp, spec, workload, seed, seconds, trace):
    """Runs one workload; returns (exit code, stdout)."""
    sys.path.insert(0, HERE)
    import gen
    w = spec[workload]
    inputs_root = os.path.join(WORK, "inputs")
    os.makedirs(inputs_root, exist_ok=True)
    inputs = gen.ensure(inputs_root, w.get("dataset_seed", seed), w["shape"])
    gen.evict(inputs_root, INPUT_SETS_KEPT)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", WORK, "--inputs", inputs, "--spec", SPEC]
    if w["serve"]:
        args += ["--graph", prepared_graph(cp, src_stamp, inputs)]
    return java(cp, args, RUN_TIMEOUT_S)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a full checkout")
    with open(SPEC) as f:
        spec = json.load(f)
    names = list(spec) if a.workload == "all" else [a.workload]
    if any(n not in spec for n in names):
        fail(f"unknown workload {a.workload!r}; one of {', '.join(spec)} or all")
    try:
        import pyarrow  # noqa: F401  (the generator writes parquet with it)
    except ImportError:
        fail("python3 needs pyarrow to generate the inputs")
    cp, src_stamp = ensure_built()
    worst = 0
    for n in names:
        rc, out = run_one(cp, src_stamp, spec, n, a.seed, a.seconds, a.trace)
        sys.stdout.write(out)
        sys.stdout.flush()
        worst = worst or rc
    sys.exit(worst)


if __name__ == "__main__":
    main()
