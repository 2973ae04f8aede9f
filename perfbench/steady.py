"""Steadiness mode: N back-to-back runs of each workload, one seed each.

    python3 perfbench/run.py --steady 10 --seconds 12 [--seed 1] [--workloads ingest,curate]

Prints, per workload and end-to-end metric, the median, the quartiles (as
`statistics.quantiles(values, n=4)` gives them), the quartile spread and the
max/min spread as shares of the median, and the failed share of each run. The
bounds in BENCHMARK.json are set from this output.
"""

import datetime
import json
import statistics
import subprocess
import sys
import os


def _utc():
    return datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S UTC")


def main(root, workloads, n, seed0, seconds):
    here = os.path.dirname(os.path.abspath(__file__))
    print(f"steadiness: {n} runs per workload, seeds {seed0}..{seed0 + n - 1}, "
          f"{seconds} s per run; started {_utc()}", flush=True)
    summary = {}
    ok = True
    for w in workloads:
        values = {}
        shares = set()
        for i in range(n):
            cmd = [sys.executable, os.path.join(here, "run.py"), "--workload", w,
                   "--seed", str(seed0 + i), "--seconds", str(seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
            os.makedirs(os.path.join(root, ".bench_build", "steady"), exist_ok=True)
            with open(os.path.join(root, ".bench_build", "steady", f"{w}-{seed0 + i}.txt"), "w") as f:
                f.write(p.stdout + p.stderr)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed0 + i}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok = ok and res["correct"]
            shares.add(f"{res['failed']}/{res['attempted']}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"  {w} seed {seed0 + i} {_utc()}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                  flush=True)
        print(f"\n{w}: failed/attempted per run: {sorted(shares)}")
        print(f"  {'metric':26s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'range/med':>9s}")
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            iqr = (q3 - q1) / med if med else float("nan")
            rng = (max(vs) - min(vs)) / med if med else float("nan")
            print(f"  {k:26s} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.3f} {rng:9.3f}")
            summary.setdefault(w, {})[k] = dict(median=med, q1=q1, q3=q3, iqr_share=iqr,
                                                range_share=rng, values=vs)
        sys.stdout.flush()
    print(f"\nfinished {_utc()}")
    out = os.path.join(root, ".bench_build", "steady.json")
    with open(out, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"values: {out}")
    return 0 if ok else 1
