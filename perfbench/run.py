"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_loopback --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest          # the benchmark's own checks
    python3 perfbench/run.py --workload suite_sf01 --record  # re-record fingerprints

Builds the program from source first (see build.py). The query workloads
read the sf0.1 tables from $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1, and
warm up on the sibling sf0.001. Spark's log goes to a file under the build
directory; on failure its tail is printed to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
WORKLOADS = ["etl_loopback", "corpus_x10", "suite_sf01"]


def fail(msg, code=2):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(code)


def data_dirs():
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    warm = os.path.join(os.path.dirname(os.path.abspath(sf)), "sf0.001")
    for d in (sf, warm):
        if not os.path.isdir(d):
            fail("test data not found: %s (set SPARK_GRAFT_SF_DIR)" % d)
    return sf, warm


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--record", action="store_true",
                   help="write the workload's query fingerprints to expected.json")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload or --selftest is required")
    workload = "selftest" if a.selftest else a.workload

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e))
    sf, warm = data_dirs()

    base = build.build_dir()
    work = os.path.join(base, "runs", "%s-%d" % (workload, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(base, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, "%s-seed%d-trace%d.log" % (workload, a.seed, a.trace))
    cp = os.pathsep.join([classes, os.path.join(build.ROOT, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    cmd += [x for m in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % m)]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf-dir", sf, "--warm-dir", warm,
            "--work-dir", work, "--out", os.path.join(base, "traces"),
            "--expected", os.path.join(build.BENCH, "expected.json"),
            "--benchmark-json", os.path.join(build.ROOT, "BENCHMARK.json"),
            "--record", "1" if a.record else "0"]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S if not a.selftest else 900)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print("[perfbench] timed out after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    sys.stdout.write("".join(l + "\n" for l in lines))
    sys.stdout.flush()
    ok = proc.returncode == 0
    if ok and not a.selftest:
        try:
            last = json.loads(lines[-1])
            ok = set(last) == {"correct", "attempted", "failed", "metrics"}
        except (IndexError, ValueError):
            ok = False
    if not ok:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail("run failed (exit %s); log: %s" % (proc.returncode, log_path), 1)


if __name__ == "__main__":
    main()
