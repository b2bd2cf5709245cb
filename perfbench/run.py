"""Benchmark entry point: builds graft and the benchmark, then runs one
workload in a fresh JVM and relays its output. The last line of standard
output is the JSON result; the exit code is 0 only when every op and every
output check passed.

    python3 perfbench/run.py --workload registry|dedup --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Everything the run writes stays under perfbench/target. A trace run keeps
its spans, with the Spark work attributed to each, in
perfbench/target/traces/<workload>-<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("registry", "dedup")
HEAP = "3g"
TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is not started by spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classpath, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *ADD_OPENS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", classpath, main, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.stderr.write(f"perfbench: {main} did not finish within {TIMEOUT_S} s\n")
        return 1, ""
    return proc.returncode, out


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")
    try:
        classpath = build.build(tests=a.self_test)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    name = "self-test" if a.self_test else f"{a.workload}-{os.getpid()}"
    work = os.path.join(build.TARGET, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            code, out = jvm(classpath, "perfbench.SelfTest", [work], work)
            sys.stdout.write(out)
            return code
        code, out = jvm(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work], work)
        lines = out.rstrip("\n").split("\n")
        try:
            result = json.loads(lines[-1])
        except (ValueError, IndexError):
            sys.stdout.write(out)
            sys.stderr.write("perfbench: the run printed no result\n")
            return code or 1
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        if list(result["metrics"]) != want:
            sys.stdout.write("\n".join(lines[:-1]) + "\n")
            sys.stderr.write(f"perfbench: metrics {list(result['metrics'])} differ from BENCHMARK.json {want}\n")
            return 1
        if a.trace:
            traces = os.path.join(build.TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.move(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
        sys.stdout.write(out)
        return code
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
