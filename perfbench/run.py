"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Runs one workload (see workload.py and BENCHMARK.json) from the repo
root and prints, as the last stdout line, one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (spans are then written
to .perfbench/spans/). The lines before it name every metric with its
unit and the sample counts behind the percentiles.

Hermetic: the measured program runs in a child process in its own
process group, with a private scratch directory under .perfbench/runs/
that also holds Spark's local dir and every temp dir. The scratch dir
is deleted on exit, even on failure, and dirs left by killed runs are
cleared first. Every process of the group is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
RUNS = os.path.join(STATE, "runs")
CHILD_TIMEOUT_S = 170


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def clear_stale_runs() -> None:
    if not os.path.isdir(RUNS):
        return
    for name in os.listdir(RUNS):
        if name.isdigit() and not _alive(int(name)):
            shutil.rmtree(os.path.join(RUNS, name), ignore_errors=True)


def _group_members(pgid: int) -> list:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def stop_group(pgid: int, grace_s: float = 5.0) -> None:
    """SIGTERM, then SIGKILL, the whole process group; wait until empty."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 20.0)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_members(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def child_env(scratch: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = os.path.join(scratch, "tmp")
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    return env


def report(res: dict, trace: int) -> None:
    info = res.pop("info", {})
    if not trace:
        print(f"# samples: cold={info.get('n_cold')} warm={info.get('n_warm')} batches={info.get('n_batches')}")
        print(f"# cold [n, p50 ms] by shape: {json.dumps(info.get('cold_ms_by_shape'))}")
        print(f"# warm [n, p50 ms] by shape: {json.dumps(info.get('warm_ms_by_shape'))}")
    for name, m in res["metrics"].items():
        print(f"{name:34s} {m['value']:>16.6g} {m['unit']}")
    for note in info.get("failures", []):
        print(f"# failure: {note}")
    print(json.dumps(res))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "lsearch_spark", "__init__.py")):
        print(f"perfbench: no lsearch_spark package under {REPO}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be >= 1", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    clear_stale_runs()
    scratch = os.path.join(RUNS, str(os.getpid()))  # short: socket paths live below it
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    out = os.path.join(scratch, "result.json")
    spans = os.path.join(STATE, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--scratch", scratch, "--out", out, "--spans", spans,
    ]
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=REPO, env=child_env(scratch), stdout=sys.stderr,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
            return 1
        if code != 0 or not os.path.isfile(out):
            print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
        report(res, args.trace)
        return 0
    finally:
        if proc is not None:
            stop_group(proc.pid)
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
