#!/usr/bin/env python3
"""graft's end-to-end benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds graft and the benchmark from the checkout's sources when they
changed since the last build (sbt, offline), runs one workload in a fresh
JVM with a fresh work dir, and prints the result JSON as the last line of
stdout. Exits non-zero, printing no result, when it cannot build or a run
fails. `--self-test` runs the benchmark's own unit tests instead.
See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("batch_medallion", "daily_ingest")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(args, timeout):
    """Run sbt in the benchmark's build; on timeout kill its whole process group."""
    proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true"] + args, cwd=HERE,
                            env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return subprocess.CompletedProcess(proc.args, proc.returncode, out)


def classpath():
    """The benchmark's runtime classpath, building first when stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources next to the benchmark (expected ../build.sbt and ../src/main/scala)")
    want = stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return open(cp_file).read().strip()
    try:
        p = sbt(["export perfbench/Runtime/fullClasspath"], BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return lines[-1]


def run(args):
    cp = classpath()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result, log = os.path.join(work, "result.json"), os.path.join(work, "jvm.log")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS, "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds",
           str(args.seconds), "--trace", str(args.trace), "--work", work, "--result", result]
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                code = None
        if code != 0 or not os.path.isfile(result):
            sys.stderr.write(open(log).read()[-6000:])
            fail("run timed out" if code is None else f"run failed (exit {code})", 3)
        with open(log) as fh:
            for ln in fh:
                if ln.startswith("check failed"):
                    sys.stderr.write(ln)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            keep = os.path.join(HERE, ".trace", f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(spans, keep)
            print(f"perfbench: spans in {os.path.relpath(keep, ROOT)}", file=sys.stderr)
        print(open(result).read().strip())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def self_test():
    classpath()
    try:
        p = sbt(["test"], BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("self-test timed out")
    sys.stdout.write(p.stdout[-3000:])
    sys.exit(p.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        self_test()
    if not args.workload:
        fail("--workload is required")
    started = time.time()
    run(args)
    print(f"perfbench: {args.workload} seed {args.seed} took {time.time() - started:.1f} s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
