#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage, from the repository root:

    python3 perfbench/run.py --workload sflow_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

The first run in a checkout builds the program and this harness with sbt
(offline). Each run then writes the workload's inputs for its seed (set-up,
cached per seed under the build directory), starts one fresh JVM that runs
the workload through the apps' public entry points, and prints that JVM's
result as the last line of standard output. A traced curate_corpus run also
drains a seeded auth backlog through the continuous app. The exit code is 0 only when
every call passed its output check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sflow_batch", "curate_corpus")
# Input size, as a multiple of the generators' base sizes (Gen.scala).
SCALE = 1.0
JVM_MEMORY = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_stamp():
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(out):
    """Compile with sbt unless the sources are unchanged; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 1)
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def java(cp, main, args, log, timeout):
    # scratch files (Spark's block manager, JVM temp files) stay in the build directory
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_MEMORY}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + [str(a) for a in args]
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{main} {args[0]} exited with {code}", 1)


def generate(cp, data, args):
    """Run one generator into `data` unless it already finished there."""
    if os.path.exists(os.path.join(data, "_DONE")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    java(cp, "graft.perfbench.Gen", args[:1] + [args[1], data] + args[2:],
         os.path.join(data, "gen.log"), timeout=400)
    open(os.path.join(data, "_DONE"), "w").close()
    return data


def inputs(cp, stamp, workload, seed, root, scale=SCALE):
    """Write the workload's inputs for this seed once; return their directory."""
    extra = []
    if workload == "sflow_batch":
        extra = [generate(cp, os.path.join(root, f"sflow_history-x{scale}-{stamp}"),
                          ["sflow_history", 0, scale])]
    return generate(cp, os.path.join(root, f"{workload}-s{seed}-x{scale}-{stamp}"),
                    [workload, seed, scale] + extra)


def expected_file(out, workload, seed, scale=SCALE):
    """Where the first clean run on these inputs records its output prints.

    The name depends on the inputs only (workload, seed, scale and the
    generators' source), not on the program, so a build that changes the
    program's results fails the check against the prints an earlier build
    recorded. A change that means to alter results deletes the file.
    """
    with open(os.path.join(HERE, "src", "main", "scala", "graft", "perfbench", "Gen.scala"),
              "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(out, "expected", f"{workload}-s{seed}-x{scale}-g{gen}.txt")


def selftest(cp, stamp, out):
    """Each generator is deterministic for a seed and differs across seeds."""
    root = os.path.join(out, "selftest")
    shutil.rmtree(root, ignore_errors=True)
    ok = True
    for w in WORKLOADS + ("auth_backlog",):
        prints = []
        for run, seed in enumerate((11, 11, 12)):
            d = inputs(cp, stamp, w, seed, os.path.join(root, str(run)), scale=0.1)
            with open(os.path.join(d, "fingerprint.txt")) as f:
                prints.append(f.read().strip())
        same, differs = prints[0] == prints[1], prints[0] != prints[2]
        ok &= same and differs
        print(f"{w}: same seed {'equal' if same else 'DIFFERENT'}, "
              f"other seed {'differs' if differs else 'EQUAL'}")
    shutil.rmtree(root, ignore_errors=True)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftApp.scala")):
        fail("the program's sources are not here; run from a full checkout")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp, stamp = build(out)
    if a.selftest:
        sys.exit(0 if selftest(cp, stamp, out) else 1)

    data = inputs(cp, stamp, a.workload, a.seed, os.path.join(out, "data"))
    # the continuous-mode layers are measured in the traced curate_corpus run
    auth = ([inputs(cp, stamp, "auth_backlog", a.seed, os.path.join(out, "data"))]
            if a.trace and a.workload == "curate_corpus" else [])
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    java(cp, "graft.perfbench.Main",
         [a.workload, data, work, a.seconds, a.trace, result,
          expected_file(out, a.workload, a.seed)] + auth,
         os.path.join(out, f"{a.workload}.log"), timeout=170)
    with open(result) as f:
        res = json.load(f)
    if a.trace:
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        for name in ("spans", "layers"):
            shutil.copy(os.path.join(work, f"{name}.jsonl"),
                        os.path.join(traces, f"{a.workload}-s{a.seed}-{name}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
