"""Steadiness check: run each workload several times and report the spread.

    python3 perfbench/steady.py --runs 10 [--workloads ppdb_ingest,...]
        [--seed0 1] [--trace 0|1] [--seconds N]

Each run is ``run.py`` in a fresh process with its own seed (``seed0``,
``seed0 + 1``, ...). For every metric the command prints the median, the
quartiles, min and max, and the quartile spread ``(q3 - q1) / median``;
an end-to-end metric whose spread is above its ``BENCHMARK.json`` bound is
flagged ``OVER``, and one above a third of it ``warn``. The quartiles are
``statistics.quantiles(values, n=4)``. With ``--trace 1`` the per-layer
metrics are reported instead, with the tracing overhead among them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {
        "median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
        "spread": (q3 - q1) / med if med else 0.0,
    }


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    worst = 0.0
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for i in range(args.runs):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                "--seed", str(args.seed0 + i), "--seconds", str(args.seconds),
                "--trace", str(args.trace),
            ]
            t0 = time.monotonic()
            out = subprocess.run(
                cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=900,
            )
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                print(f"{wl} run {i}: exit {out.returncode}")
                return 1
            result = json.loads(lines[-1])
            record = json.loads(lines[-2].split(" ", 1)[1])
            if not result["correct"]:
                print(f"{wl} run {i}: incorrect: {result}")
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {args.seed0 + i}: "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                             if k in bounds or args.trace)
                  + f" | passes={[round(w, 2) for w in record['pass_walls_s']]}"
                  f" steal={[round(x, 3) for x in record['pass_steal_share']]}"
                  f" used={record.get('passes_used')}"
                  f" run={time.monotonic() - t0:.1f}s", flush=True)
        print(f"== {wl}: {args.runs} runs")
        for k, vs in values.items():
            s = spread(vs)
            flag = ""
            if k in bounds:
                worst = max(worst, s["spread"] / bounds[k] if bounds[k] else 0.0)
                if s["spread"] > bounds[k]:
                    flag = "OVER"
                elif s["spread"] > bounds[k] / 3:
                    flag = "warn"
            print(f"  {k:44s} median={s['median']:.5g} q1={s['q1']:.5g} q3={s['q3']:.5g} "
                  f"min={s['min']:.5g} max={s['max']:.5g} spread={s['spread']:.4f} {flag}")
    return 1 if worst > 1.0 else 0


if __name__ == "__main__":
    sys.exit(main())
