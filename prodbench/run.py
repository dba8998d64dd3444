#!/usr/bin/env python3
"""Product-path benchmark runner.

    python3 prodbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 prodbench/run.py --selftest [--workload <name>]

Builds the library and the benchmark from source (see build.py), then runs
one JVM with Spark local[min(4, cores)] and one client thread. The last line
of standard output is the result JSON; the line before it records the
run's contention (steal ticks, canary query wall before and after the timed
window). All files the run makes live under the build directory and are
removed when it ends.
"""
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main(argv):
    if "--selftest" not in argv and "--workload" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    classes = build.build()
    work = os.path.join(build.build_dir(), "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "prodbench.Main"] + argv + ["--work", work]
    timeout = 3000 if "--selftest" in argv else 175
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.ROOT, start_new_session=True)
    last = None
    try:
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("prodbench: run exceeded %d s" % timeout, file=sys.stderr)
            return 1
        # a failed run prints no result: its output goes to stderr
        sink = sys.stdout if proc.returncode == 0 else sys.stderr
        for line in out.splitlines():
            print(line, file=sink, flush=True)
            if line.strip():
                last = line.strip()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        print("prodbench: JVM exited with %d" % proc.returncode, file=sys.stderr)
        return proc.returncode
    if "--selftest" not in argv and not (last and last.startswith("{")):
        print("prodbench: no result line", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
