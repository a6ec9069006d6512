#!/usr/bin/env python3
"""Runs one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, into
`.bench_build/`), then runs the harness JVM with the run's scratch files
under `.bench_work/` (removed afterwards). The harness's last stdout line,
the result, is printed last here too. A traced run writes its span file
under `.bench_out/`. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("log_service", "batch")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked runs).
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


def sources(root):
    """Every file the build reads, for the rebuild check."""
    picks = []
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            picks.append(p)
        for d, _, fs in os.walk(p):
            picks.extend(os.path.join(d, f) for f in fs)
    return sorted(picks)


def fingerprint(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compiles the program and the harness; returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp, cp_file = fingerprint(root), os.path.join(out, "classpath.txt")
        fp_file = os.path.join(out, "fingerprint")
        if os.path.exists(cp_file) and os.path.exists(fp_file):
            with open(fp_file) as f:
                if f.read() == fp:
                    with open(cp_file) as g:
                        return g.read().strip()
        log = os.path.join(out, "build.log")
        with open(log, "w") as lf:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                stderr=lf, stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                text, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
            lf.write(text)
        cps = [l.strip() for l in text.splitlines() if ".jar" in l and os.pathsep in l]
        if p.returncode != 0 or not cps:
            fail(f"build failed (exit {p.returncode}); see {log}")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(fp_file, "w") as f:
            f.write(fp)
        return cps[-1]


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except (OSError, ValueError):
        return False


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-fixtures", metavar="DIR",
                    help="write the llm_pipeline results and oracle SQL to DIR "
                         "(see check_fixtures.py) instead of benchmarking")
    args = ap.parse_args()
    if not args.workload and not args.make_fixtures:
        ap.error("--workload is required")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    classpath = build(root)

    work_top = os.path.join(root, ".bench_work")
    os.makedirs(work_top, exist_ok=True)
    for d in os.listdir(work_top):  # left behind by a killed run
        if not (d.isdigit() and alive(int(d))):
            shutil.rmtree(os.path.join(work_top, d), ignore_errors=True)
    work = os.path.join(work_top, str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(root, ".bench_out")
    os.makedirs(out, exist_ok=True)

    # A fixed, pre-touched heap: no heap-sizing decision differs between
    # runs, and peak RSS is the heap plus what the JVM holds off-heap. The
    # heap asks for transparent huge pages (the kernel gives them on
    # request only): in a virtual machine every TLB miss walks two page
    # tables, and with 4 KB pages the batch workload's run-to-run spread
    # was widest (in three alternating pairs of runs, 8.9-11.3 s with 4 KB
    # pages against 9.4-10.0 s with huge pages).
    # C1 only: the optimizing compiler's speculative, profile-driven code
    # differed from one JVM to the next and kept improving through the
    # whole run (measured: PUT medians 125-195 ms across five runs of the
    # same build, queries 10-20% faster per pass after two warm-up passes);
    # C1 code is settled after the warm-up and the same in every run.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
           "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--work", work, "--out", out]
    if args.make_fixtures:
        cmd += ["--make-fixtures", os.path.abspath(args.make_fixtures)]
        name = "fixtures"
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        name = f"{args.workload}-{args.seed}-{args.trace}"
    log = os.path.join(out, f"{name}.log")
    t0 = time.time()
    with open(log, "w") as lf:
        # Spark's scratch space stays in the run's work dir
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=lf, env=env,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            text, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in text.splitlines() if l.strip()]
    if args.make_fixtures:
        sys.exit(p.returncode)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"no result line (exit {p.returncode}, {time.time() - t0:.0f} s); see {log}", 3)
    for l in lines:
        print(l)
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
