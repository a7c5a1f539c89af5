"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --check-gen [--seed <n>]

Builds the program from source (perfbench/build.py), then runs one workload
in a fresh JVM sized from the machine: local[nproc], nproc shuffle
partitions, and a driver heap of MemTotal/2 GiB clamped to 2..8 GiB (the
same formula as the tier-1 test command). Every
run starts from a fresh work directory under .bench_work, removed
afterwards; traces and logs stay in .bench_work/results. The last line of
standard output is the JSON result; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170


_children = []


def _stop_children(signum, _frame):
    """Stop every process this run started, then exit."""
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
            p.wait()
    sys.exit(128 + signum)


def commit():
    """The checkout's git commit, or "unknown" outside a repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-gen", action="store_true")
    a = ap.parse_args()
    if not a.check_gen and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        print("perfbench: program sources (src/main/scala) not found under "
              + ROOT, file=sys.stderr)
        return 2

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _stop_children)
    _, digest = build.build(_children)
    bench = os.path.join(ROOT, ".bench_work")
    results = os.path.join(bench, "results")
    name = "check-gen" if a.check_gen else a.workload
    work = os.path.join(bench, "run-%s-%d-%d" % (name, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)

    cmd = ["java"]
    if build.archive():
        cmd.append("-XX:SharedArchiveFile=" + build.archive())
    cmd += build.jvm_options(build.heap(), os.path.join(work, "tmp"))
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--work", work, "--results", results, "--cores", str(build.cores()),
            "--commit", commit(), "--source-digest", digest]
    if a.check_gen:
        cmd += ["--check-gen", str(a.seed)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    log_path = os.path.join(results, "%s-%d-trace%d.log" % (name, a.seed, a.trace))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True, env=env,
                                start_new_session=True)
        _children.append(proc)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print("perfbench: run exceeded %d s; log: %s" % (TIMEOUT_S, log_path),
                  file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
            return 1
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if a.check_gen:
        print("\n".join(lines))
        return proc.returncode
    result = None
    for line in lines:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        print("perfbench: run failed (exit %d); log: %s" % (proc.returncode, log_path),
              file=sys.stderr)
        return 1
    parsed = json.loads(result)
    if set(parsed) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    print(json.dumps(parsed, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
