"""Steadiness command: are two sets of runs of the same code in agreement?

    python3 perfbench/steady.py --workload news_ingest --runs 5
    python3 perfbench/steady.py --workload analyst_catalog --runs 5 --traced

Runs two interleaved sets of ``--runs`` runs each (A, B, A, B, ...), every
run ``run_seconds`` long (BENCHMARK.json) with its own seed, and prints
per set and per end-to-end metric the median and quartiles, the spread
(interquartile distance over the median) and whether the sets agree:
every spread, ``setup_s``'s too, within the metric's bound, the two
medians apart by no more than the bound in either direction, and the
same share of failed operations. It also prints the spread over all
runs pooled.

``--traced`` adds one traced run after each pair and reports the
tracing overhead: the traced runs' end-to-end medians against the
untraced ones, and the spread of every per-layer metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED_BASE = 1000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join("perfbench", "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    report = next(
        json.loads(line.split(" ", 1)[1])
        for line in p.stderr.splitlines()
        if line.startswith("perfbench-report ")
    )
    return {"result": result, "report": report}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set (at least 2)")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    e2e = bench["end_to_end"]
    sets: list[list[dict]] = [[], []]
    traced: list[dict] = []
    for i in range(args.runs):
        for s in (0, 1):
            seed = SEED_BASE + 2 * i + s
            r = run_once(args.workload, seed, seconds, 0)
            sets[s].append(r)
            print(f"set {'AB'[s]} seed {seed}: {json.dumps(r['result'])}", flush=True)
            print(f"  detail: {json.dumps(r['report']['detail'])}", flush=True)
        if args.traced:
            r = run_once(args.workload, SEED_BASE + 500 + i, seconds, 1)
            traced.append(r)
            print(f"traced seed {SEED_BASE + 500 + i}: {json.dumps(r['result'])}", flush=True)

    ok = True
    summary = {}
    print(f"\n{args.workload}: {args.runs} runs per set, {seconds} s each")
    for m in e2e:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        vals = [[r["result"]["metrics"][name]["value"] for r in runs] for runs in sets]
        meds = []
        for s, v in enumerate(vals):
            q1, med, q3 = quartiles(v)
            meds.append(med)
            sp = spread(v)
            good = sp <= bound
            ok &= good
            print(
                f"  {name:18s} set {'AB'[s]}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                f"spread {sp:.3f} (bound {bound}){'' if good else '  TOO WIDE'}"
            )
        worse = (meds[1] - meds[0]) / meds[0] if lower else (meds[0] - meds[1]) / meds[0]
        shift_ok = abs(worse) <= bound
        ok &= shift_ok
        pooled = spread(vals[0] + vals[1])
        summary[name] = {"medians": meds, "pooled_spread": pooled, "second_worse_by": worse}
        print(
            f"  {name:18s} second set worse by {worse:+.3f}{'' if shift_ok else '  OUT OF BOUND'}; "
            f"pooled spread {pooled:.3f} (a third of the bound: {bound / 3:.3f})"
        )
    shares = [
        {r["result"]["failed"] / r["result"]["attempted"] for r in runs} for runs in sets
    ]
    same_share = len(shares[0] | shares[1]) == 1
    ok &= same_share
    correct = all(r["result"]["correct"] for runs in sets for r in runs)
    ok &= correct
    print(f"  failed share per run: {sorted(shares[0] | shares[1])}; all correct: {correct}")

    if traced:
        print("\ntracing overhead (traced median vs untraced median):")
        untraced = sets[0] + sets[1]
        for m in e2e:
            name = m["name"]
            u = statistics.median(r["report"]["end_to_end"][name] for r in untraced)
            t = statistics.median(r["report"]["end_to_end"][name] for r in traced)
            print(f"  {name:18s} untraced {u:.4f} traced {t:.4f} ({(t - u) / u:+.3f})")
        print("\nper-layer metrics over the traced runs (median, min, max):")
        for m in bench["per_layer"]:
            v = [r["result"]["metrics"][m["name"]]["value"] for r in traced]
            print(f"  {m['name']:52s} {statistics.median(v):14.4f} {min(v):14.4f} {max(v):14.4f}")
    print(f"\nsets agree within bounds: {ok}")
    print(json.dumps({"workload": args.workload, "agree": ok, "metrics": summary}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
