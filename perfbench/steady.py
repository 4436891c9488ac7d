"""Run-to-run steadiness check.

    python3 perfbench/steady.py --workloads rpm_stream --seeds 5

Runs the benchmark command of BENCHMARK.json once per seed and
workload (untraced), then prints, per end-to-end metric, the median,
the interquartile spread as a share of the median and that spread as a
share of the metric's bound. A steady benchmark keeps every spread but
setup_s's below a third of its bound."""

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

from perfbench.stats import spread  # noqa: E402


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--log", help="append every result line (JSON) to this file")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.monotonic()
            out = subprocess.run(
                bench["command"] + ["--workload", wl, "--seed", str(seed),
                                    "--seconds", f"{args.seconds:g}", "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            host = next((ln for ln in lines if ln.startswith("host:")), "")
            took = time.monotonic() - t0
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps(
                        {"workload": wl, "seed": seed, "run_s": took, "host": host, **res}
                    ) + "\n")
            print(
                f"{wl} seed={seed} run_s={took:.1f} correct={res['correct']} "
                f"{host.split('(')[0].removeprefix('host: ')}"
                + " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds),
                flush=True,
            )
        for m, vs in values.items():
            sp = spread(vs) if len(vs) >= 2 else float("nan")
            print(
                f"{wl} {m}: median={statistics.median(vs):.4g} spread={sp:.4f} "
                f"bound={bounds[m]} spread/bound={sp / bounds[m]:.2f}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
