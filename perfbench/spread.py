"""Run-to-run spread of the end-to-end metrics: one run per seed, then
for each metric the distance between the first and third quartile of
its values as a share of their median, next to a third of the metric's
bound. Run from the repository root:

    python3 perfbench/spread.py --workload crawl_rounds --seeds 1-10 [--seconds N]

Runs are sequential; each is its own process.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: steal is time the
    hypervisor ran something else while this machine wanted the CPU."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        s0, tot0 = _cpu_ticks()
        p = subprocess.run(cmd, capture_output=True, text=True)
        s1, tot1 = _cpu_ticks()
        walls.append(time.monotonic() - t0)
        steal = (s1 - s0) / max(tot1 - tot0, 1)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(last)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s steal {steal:.1%} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for name, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
        else:
            spread = 0.0
        b = bounds.get(name)
        flag = "" if b is None else f" bound {b} ({'ok' if spread <= b / 3 else 'WIDE'})"
        print(f"{name:<22} median {med:>12.4f} spread {spread:.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
