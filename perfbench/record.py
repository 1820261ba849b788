"""Write the committed per-layer record of one workload.

    python3 perfbench/record.py --workload analytics --seed 7

Runs the workload twice with the same seed, tracing off and then on, and
writes ``perfbench/records/<workload>.json``: the end-to-end metrics, the
per-layer metrics per pass and per key, the spans' self time summed by
span name, and the tracing overhead (traced minus untraced ``mix_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n{proc.stderr[-3000:]}")
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    by_name: dict[str, dict[str, float]] = {}
    for s in traced["spans"]:
        agg = by_name.setdefault(s["name"], {"count": 0, "dur_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["dur_s"] += s["dur_s"]
        agg["self_s"] += s["self_s"]
    layers = traced["layers_per_pass"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "environment": traced["environment"],
        "end_to_end": plain["metrics"],
        "fail_frac": plain["fail_frac"],
        "untraced_keys": plain["keys"],
        "tracing_overhead_mix_s": layers["trace.mix_s"] - plain["metrics"]["mix_s"],
        "layers_per_pass": layers,
        "layers_per_key": traced["layers_per_key"],
        "traced_keys": traced["keys"],
        "span_self_time_by_name": by_name,
        "pass_walls_s": {"untraced": plain["pass_walls_s"], "traced": traced["pass_walls_s"]},
    }
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    with open(os.path.join(HERE, "records", f"{args.workload}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
