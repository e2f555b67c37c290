"""Run one workload of the graft CDC pipeline benchmark.

    python3 perfbench/run.py --workload ingest|serve|export --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # load-generator unit tests

Run from the root of a checkout. The first call compiles the engine and the
benchmark (see build.py); later calls reuse the build. The workload runs in
one JVM under `.bench_build/perfbench/run-<pid>/`, which is removed
afterwards. The last line of standard output is one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`; with `--trace 0` the
metrics are BENCHMARK.json's `end_to_end` list, with `--trace 1` its
`per_layer` list. Any failure exits non-zero without printing that line.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest", "serve", "export")
# Spark on JDK 17 needs these opens when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, run_dir, main, args, timeout):
    """Run `main` in a fresh JVM; return its stdout lines (echoed as they
    arrive) or raise on a non-zero exit or timeout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", "-Xss4m",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    log_path = os.path.join(run_dir, "jvm.log")
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        deadline = time.monotonic() + timeout
        try:
            import selectors
            sel = selectors.DefaultSelector()
            sel.register(proc.stdout, selectors.EVENT_READ)
            while True:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("run exceeded %d s" % timeout)
                if sel.select(timeout=min(left, 1.0)):
                    line = proc.stdout.readline()
                    if not line:
                        break
                    lines.append(line.rstrip("\n"))
                    # the result line is printed only once validated
                    if not lines[-1].startswith('{"correct"'):
                        print(lines[-1], flush=True)
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError("JVM exited with %d; stderr tail:\n%s" % (proc.returncode, tail))
    return lines


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classpath = build.build()
    run_dir = os.path.join(build.OUT, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.selftest:
            jvm(classpath, run_dir, "perfbench.LoadGenTest", [], RUN_TIMEOUT_S)
            return
        lines = jvm(classpath, run_dir, "perfbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--dir", run_dir], RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = json.loads(lines[-1])
    want = expected_metrics(a.trace == 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise RuntimeError("metrics differ from BENCHMARK.json: missing %s, extra %s, units %s" % (
            sorted(set(want) - set(got)), sorted(set(got) - set(want)),
            sorted(k for k in want if k in got and got[k] != want[k])))
    print(json.dumps(result))


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, TimeoutError, OSError, ValueError) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(1)
