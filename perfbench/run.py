"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload crawl-fused --seed 1 --seconds 5 --trace 0

Builds the engine and the benchmark if a source changed (build.py), then
runs graft.perfbench.Main in one JVM from the repository root. Every
metric is printed as `metric <name> <value> <unit>`; the last line of
standard output is the JSON result. A run's scratch files live under
.perfbench/ and are removed when it ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ["crawl-fused", "crawl-probe", "warc-verify-extract"]
TIMEOUT_S = 170


def commit():
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return "unknown"
    res = subprocess.run(["git", "-C", REPO, "rev-parse", "--short=12", "HEAD"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return res.stdout.decode().strip() or "unknown"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    try:
        cp, archive = build.build(REPO)
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)

    scratch = os.path.join(REPO, ".perfbench", "run-%d" % os.getpid())
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = build.java_cmd(cp, archive, scratch, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--fingerprints", os.path.join(HERE, "fingerprints.txt"),
        "--commit", commit()])
    last = ""
    proc = subprocess.Popen(cmd, cwd=REPO, env=build.java_env(scratch),
                            stdout=subprocess.PIPE)
    watchdog = threading.Timer(TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for raw in proc.stdout:
            line = raw.decode(errors="replace").rstrip("\n")
            if line.strip():
                last = line
                print(line, flush=True)
    except BaseException:
        proc.kill()
        raise
    finally:
        code = proc.wait()
        watchdog.cancel()
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        sys.exit("perfbench: benchmark JVM exited with %d" % code)
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.exit("perfbench: the JVM did not end with a result line")


if __name__ == "__main__":
    main()
