"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload lake_daily --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (graftbench/build.py) into .bench_build/; later runs reuse it.
The harness JVM prints human-readable lines and, as its last stdout line,
one JSON object {"correct", "attempted", "failed", "metrics"}; this
wrapper relays it unchanged as its own last line. See graftbench/README.md.
"""
import argparse
import glob
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_daily", "corpus_curate")
# one JVM, closed loop, local[4]: in local mode one heap serves the whole
# Spark application, sized for the corpus workload's caches
HEAP = "3g"
# the whole run (set-up, measured window, checks) must finish well inside
# three minutes; the wrapper kills the JVM past this
RUN_DEADLINE_S = 170
# how long to wait for a foreign Spark JVM to exit before refusing to start
FOREIGN_JVM_WAIT_S = 60

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def foreign_spark_jvms():
    """Other JVMs on this host that load Spark (a Spark main, a test
    suite, sbt): concurrent runs contaminate every timing 2-5x."""
    me = os.getpid()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0].endswith(b"java"):
            continue
        cmd = b" ".join(argv)
        if b"spark" in cmd or b"sbt" in cmd:
            found.append((int(pid), cmd[:160].decode(errors="replace")))
    return found


def wait_for_quiet_host():
    deadline = time.time() + FOREIGN_JVM_WAIT_S
    while True:
        others = foreign_spark_jvms()
        if not others:
            return
        if time.time() > deadline:
            for pid, cmd in others:
                print(f"refusing to start: Spark JVM {pid} is running: {cmd}",
                      file=sys.stderr)
            raise SystemExit(3)
        time.sleep(2)


def run_jvm(main_args, expect_result=True):
    work = os.path.join(build.build_dir(), "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a killed run cannot clean up after itself; no other harness is
    # running (wait_for_quiet_host), so its leftovers can go
    for d in glob.glob(os.path.join(work, "run-*")):
        shutil.rmtree(d, ignore_errors=True)
    # engine defaults only: no GRAFT_* / SPARK_GRAFT_* setting reaches the JVM
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.abspath(os.path.join(work, "warehouse"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(build.runtime_classpath()),
              "graftbench.Main", "--work", os.path.abspath(work)] + main_args)
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                            text=True, bufsize=1, start_new_session=True)
    last = None
    start = time.time()

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old_term = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(4)))
    try:
        import threading
        timer = threading.Timer(RUN_DEADLINE_S, kill)
        timer.daemon = True
        timer.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if last is not None:
                print(last, flush=True)
            last = line
        code = proc.wait()
        timer.cancel()
    finally:
        kill()
        proc.wait()
        signal.signal(signal.SIGTERM, old_term)
    if time.time() - start >= RUN_DEADLINE_S:
        print(f"run exceeded {RUN_DEADLINE_S} s and was killed", file=sys.stderr)
        return 4
    if code != 0 or not expect_result:
        if last is not None:
            print(last, flush=True)
        return code
    if last is None or not last.startswith("{"):
        print("harness printed no result line", file=sys.stderr)
        return 5
    print(last, flush=True)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the harness's own tests and exit")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    wait_for_quiet_host()
    build.build()
    if a.selftest:
        return run_jvm(["--selftest"], expect_result=False)
    return run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace)])


if __name__ == "__main__":
    sys.exit(main())
