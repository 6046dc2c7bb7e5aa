#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed, one run at a time,
and print each end-to-end metric's median and quartile spread (Q3 - Q1 over
the median) next to its bound from BENCHMARK.json.

    python3 perfbench/steadiness.py --workload tail --seeds 1-10

Before each run it times a fixed single-threaded CPU loop (``probe``), and
over each run it reads the share of CPU time the hypervisor stole from the
VM (``steal``, from /proc/stat; n/a where there is none): when a run's
metrics move with these, the host's speed moved, not the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def host_probe() -> float:
    """Median of 5 timings of a fixed pure-Python loop, in seconds."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(2_000_000))
        times.append(time.perf_counter() - t0)
    return sorted(times)[2]


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user / nice
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8")
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path[0] = root
    from perfbench import stats

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        probe = host_probe()
        ticks0 = cpu_ticks()
        t0 = time.monotonic()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, cwd=root)
        ticks1 = cpu_ticks()
        steal = (f"{(ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]):.3f}"
                 if ticks0 and ticks1 else "n/a")
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        metrics = {k: v["value"] for k, v in result.get("metrics", {}).items()}
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s, probe={probe:.4f} steal={steal} "
              f"correct={result.get('correct')} "
              + " ".join(f"{k}={v:.4f}" for k, v in metrics.items()), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v)
    for m in bench["end_to_end"]:
        vals = values.get(m["name"], [])
        if len(vals) >= 2:
            spread = stats.quartile_spread(vals)
            print(f"{m['name']:<14} median {stats.median(vals):>12.4f} {m['unit']:<9}"
                  f"spread {spread:.4f}  bound {m['bound']}  "
                  f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
