"""Steadiness check: run one workload under several seeds and print, for
each end-to-end metric, the median and the inter-quartile spread as a
share of the median (the figure ``BENCHMARK.json``'s bounds are judged
against), plus each run's wall time.

    python3 perfbench/steady.py --workload point_serve --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        result = json.loads(p.stdout.strip().splitlines()[-1])
        steal = next((ln.rsplit(":", 1)[1].strip() for ln in p.stdout.splitlines()
                      if "steal during the phase" in ln), "?")
        print(f"seed {seed}: wall {walls[-1]:.1f}s steal {steal} correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} " + " ".join(
                  f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if len(walls) < 2:
        return 0
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = stats.spread(vs)
        bound = bounds.get(k)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{k:36s} median {med:12.4f}  spread {spread:6.3f}"
              + (f"  bound {bound}" if bound is not None else "") + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
