"""Repeat the benchmark and report how steady each metric is.

    python3 perfbench/spread.py --workload publish_tail --seeds 1-10
    python3 perfbench/spread.py --workload resend_static --seeds 1-3 --trace 1
    python3 perfbench/spread.py --workload resend_static --seeds 5,5 --trace 1 --exact

Runs `perfbench/run.py` once per seed (sequentially, from the repository
root) and prints, per metric, the median and the spread: the distance
between the first and third quartile (`statistics.quantiles(n=4)`) as a
share of the median, next to the metric's bound from BENCHMARK.json.

`--exact` checks the count metrics that must repeat exactly over runs of
one seed (`exec.jobs_per_request`, `exec.tasks_per_request`, `open.files`)
and reports each one that does not.  `--overhead FILE` takes a JSON list of
untraced results (`--save` output of an earlier call) and prints, per
end-to-end metric, the traced median minus the untraced median.
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
EXACT = ("exec.jobs_per_request", "exec.tasks_per_request", "open.files")


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    detail = os.path.join(ROOT, ".perfbench_work", f"detail-{os.getpid()}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--detail", detail]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.monotonic() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(last) if last.startswith("{") else {}
    if p.returncode or not res.get("correct"):
        print(f"seed {seed}: exit {p.returncode} {p.stdout[-2000:]} {p.stderr[-2000:]}")
    with open(detail) as f:
        res["detail"] = json.load(f)
    os.remove(detail)
    res["elapsed_s"] = elapsed
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--exact", action="store_true")
    ap.add_argument("--save", help="write every run's result here")
    ap.add_argument("--overhead", help="untraced results saved by an earlier --save")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}

    results = []
    for s in seeds(args.seeds):
        res = run_once(args.workload, s, bench["run_seconds"], args.trace)
        results.append(res)
        print(f"seed {s}: correct={res.get('correct')} attempted={res.get('attempted')} "
              f"failed={res.get('failed')} setup={res['detail']['e2e']['setup_s'][0]:.1f}s "
              f"elapsed={res['elapsed_s']:.1f}s",
              flush=True)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(results, f)

    names = list(results[0]["metrics"])
    print(f"\n{'metric':34} {'median':>12} {'spread':>8} {'bound':>6}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        sp = spread(vals) if len(vals) >= 2 else float("nan")
        b = bounds.get(name)
        flag = "" if b is None or sp <= b / 3 else ("  > bound/3" if sp <= b else "  > BOUND")
        print(f"{name:34} {statistics.median(vals):12.4f} {sp:8.3f} {b if b else '-':>6}{flag}")

    if args.exact:
        for name in EXACT:
            vals = [r["metrics"][name]["value"] for r in results]
            verdict = "repeats" if len(set(vals)) == 1 else "DOES NOT repeat"
            print(f"exact {name}: {vals} {verdict}")

    if args.overhead:
        with open(args.overhead) as f:
            plain = json.load(f)
        print(f"\n{'tracing overhead':34} {'untraced':>12} {'traced':>12} {'diff':>10}")
        for name, (_, unit) in results[0]["detail"]["e2e"].items():
            u = statistics.median(r["metrics"][name]["value"] for r in plain)
            t = statistics.median(r["detail"]["e2e"][name][0] for r in results)
            print(f"{name:34} {u:12.3f} {t:12.3f} {t - u:+10.3f} {unit}")


if __name__ == "__main__":
    main()
