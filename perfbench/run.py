#!/usr/bin/env python3
"""NRT pipeline benchmark: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload nrt_cadence --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine together
with the harness from source (sbt, offline, into perfbench/target) and
makes a class-data-sharing archive from one unmeasured run; later calls
reuse both until a source file changes. The workload then runs
in a fresh JVM on Spark local[nproc]. Everything it writes stays under
perfbench/work (removed after each run) and perfbench/results (the last
untraced result per workload, which a traced run compares against to print
its tracing overhead). The last line of stdout is the JSON result; detail
lines before it start with "perfbench ".
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nrt_cadence", "medallion_chain")
XMX = "3g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 600
JSA = os.path.join(HERE, "target", "perfbench.jsa")

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "perfbench.stamp")
    cp_file = os.path.join(target, "perfbench.classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file) and os.path.exists(JSA):
        with open(stamp) as fh, open(cp_file) as fc:
            fresh, cp = fh.read().strip() == digest, fc.read().strip()
        # the JVM ignores an archive dumped against jars that changed since
        own = [j for j in cp.split(os.pathsep) if j.startswith(target) and os.path.exists(j)]
        if fresh and all(os.path.getmtime(j) <= os.path.getmtime(JSA) for j in own):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_DEADLINE_S)
    sys.stderr.write(proc.stdout[-4000:])
    if proc.returncode != 0:
        sys.exit("perfbench: build failed")
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        sys.exit("perfbench: build printed no classpath")
    cp = lines[-1].strip()
    # Class-data sharing, made as part of the build: one unmeasured run
    # archives the classes it loads, and every measured run maps that
    # archive. The old archive goes first, so no run maps an archive dumped
    # against other jars, and no measured run is a dumping run.
    if os.path.exists(JSA):
        os.remove(JSA)
    code, _ = run_jvm(cp, digest, "medallion_chain", 0, 0, 0, None,
                      ["-XX:ArchiveClassesAtExit=" + JSA])
    if code != 0 or not os.path.exists(JSA):
        sys.exit("perfbench: the class-data-sharing run failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def run_jvm(cp, digest, workload, seed, seconds, trace, results, jvm_opts):
    """Runs one workload in a fresh JVM; returns its exit code and stdout.
    `results` None keeps the result file inside the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", "%s-s%d-t%d-%d" % (workload, seed, trace, os.getpid()))
    results = results or os.path.join(work, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    cmd = (["java", "-Xmx" + XMX, "-Duser.timezone=UTC"] + jvm_opts
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(cpus), "--work", work, "--results", results,
              "--xmx", XMX, "--commit", git_commit(), "--source-digest", digest])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_DEADLINE_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.strip() if out.returncode == 0 and out.stdout.strip() else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are missing")
    digest = source_digest()
    cp = build(digest)

    code, out = run_jvm(cp, digest, args.workload, args.seed, args.seconds, args.trace,
                        os.path.join(HERE, "results"), ["-XX:SharedArchiveFile=" + JSA])
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
