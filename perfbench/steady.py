"""Steadiness check: repeats one workload over several seeds and prints, for
every metric of the JSON line, its median and its spread (distance between
the first and third quartile, as a share of the median) next to the bound
BENCHMARK.json sets; `setup_s` is reported but not held to the bound.

    python3 perfbench/steady.py --workload lakehouse_query --runs 5 [--trace 0]

Seeds are 1..runs (or --first-seed onwards). Run-to-run calibration figures
are printed too, so a noisy host can be told apart from a noisy program.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / abs(med)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    samples, calib, ok = {}, [], True
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = ["python3", str(HERE / "run.py"), "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed\n{p.stderr[-2000:]}")
        res = json.loads(lines[-1])
        keep = REPO / ".bench_build" / "perfbench" / "steady"
        keep.mkdir(parents=True, exist_ok=True)
        shutil.copy(REPO / ".bench_build" / "perfbench" / f"run-{a.workload}" / "result.json",
                    keep / f"{a.workload}-t{a.trace}-s{seed}.json")
        ok &= res["correct"]
        calib += [ln.strip() for ln in lines if "calibration" in ln]
        for k, v in res["metrics"].items():
            samples.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.0f} s wall, correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs, all correct={ok}")
    for line in calib:
        print("  " + line)
    print(f"  {'metric':<36} {'median':>12} {'IQR/median':>11} {'bound':>7}")
    for k, vs in samples.items():
        med, sp = spread(vs)
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" else ("  ok" if sp < b / 3 else "  WIDE")
        print(f"  {k:<36} {med:>12.5g} {sp:>11.4f} {'' if b is None else b:>7}{flag}")


if __name__ == "__main__":
    main()
