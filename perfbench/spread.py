"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace]

--trace also makes one traced run per seed and prints the tracing
overhead: traced minus untraced median, for the metrics the traced run
repeats under a `traced.` prefix. Results are appended as JSON lines to
.perfbench/spread/<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import spread

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds_of(text: str) -> list:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    wall = time.monotonic() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    res["log"] = [line for line in p.stderr.splitlines() if line.startswith("perfbench:")]
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    log = os.path.join(REPO, ".perfbench", "spread", f"{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    runs, traced = [], []
    for seed in seeds_of(args.seeds):
        res = run_once(args.workload, seed, spec["run_seconds"], 0)
        runs.append(res)
        if args.trace:
            traced.append(run_once(args.workload, seed, spec["run_seconds"], 1))
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "untraced": res, "traced": traced[-1] if traced else None}) + "\n")
        print(f"seed {seed}: correct={res['correct']} wall={res['wall_s']:.1f}s", file=sys.stderr)
    print(f"{args.workload}: {len(runs)} runs, wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    ok = all(r["correct"] for r in runs)
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        sp = spread(vals) if len(vals) >= 2 else 0.0
        flag = "" if m["name"] == "setup_s" or sp <= m["bound"] else "  OVER BOUND"
        third = "" if sp <= m["bound"] / 3 else " (above bound/3)"
        print(f"  {m['name']:28s} median {statistics.median(vals):12.4f} {m['unit']:10s} "
              f"spread {sp:.3f} bound {m['bound']}{flag}{third}")
        ok = ok and not flag
    if traced:
        print("  tracing overhead (traced - untraced median):")
        for name in sorted(traced[0]["metrics"]):
            if name.startswith("traced."):
                base = name[len("traced."):]
                a = statistics.median(r["metrics"][name]["value"] for r in traced)
                b = statistics.median(r["metrics"][base]["value"] for r in runs)
                print(f"    {base:28s} {a - b:+.4f} ({(a - b) / b:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
