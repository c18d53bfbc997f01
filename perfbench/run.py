"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the benchmark from source if needed (see build.py), runs
perfbench.Main in one JVM with local Spark, and re-prints its JSON result
as the last stdout line after checking that the metric names and units
are the ones BENCHMARK.json declares. Exits non-zero, without a result
line, if the build, the run or that check fails. Everything a run writes
stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("graph", "cf-train")
TIMEOUT_S = 170


def fail(msg):
    print("[perfbench] error: %s" % msg, file=sys.stderr)
    sys.exit(2)


def declared_metrics(trace):
    """(name -> unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_java(build_dir, main_args, work):
    """Run the JVM, passing stderr through; return (exit code, stdout lines)."""
    cmd = build.java_cmd(build_dir, main_args, work,
                         "-XX:SharedArchiveFile=" + os.path.join(build_dir, "cds.jsa"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=build.java_env(work),
                            cwd=build.ROOT, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out.splitlines()


def main():
    # a terminated run still stops its JVM (see run_java)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        build_dir = build.build()
    except build.BuildError as e:
        fail("build: %s" % e)

    work = os.path.join(build.BUILD_DIR, "work-%d" % os.getpid())
    os.makedirs(work)
    try:
        if a.selftest:
            code, lines = run_java(build_dir, ["--selftest"], work)
            print("\n".join(lines))
            sys.exit(code)
        code, lines = run_java(build_dir, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(build.cores()),
            "--tables", os.path.join(build_dir, "tables")], work)
    except subprocess.TimeoutExpired:
        fail("run exceeded %d s" % TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if code != 0 or not lines:
        print("\n".join(lines[-20:]))
        fail("benchmark JVM exited with code %d" % code)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("no JSON result line")
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    want = declared_metrics(a.trace)
    if got != want:
        fail("metrics differ from BENCHMARK.json: missing %s, unexpected %s" % (
            sorted(set(want) - set(got)), sorted(set(got) - set(want))))
    if any(m["value"] is None for m in result["metrics"].values()):
        fail("a metric has no value")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
