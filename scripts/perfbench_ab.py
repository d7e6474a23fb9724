"""Interleaved A/B of the raster benchmark between two checkouts.

    python3 scripts/perfbench_ab.py --parent DIR --change DIR --workload tiles \
        --seeds 13-22 [--seconds 5] [--out ab.json]

Runs ``perfbench/run.py`` once per seed in each checkout, one parent/change
pair per seed, alternating which side runs first. Each run uses its own
checkout's benchmark code, so keep ``perfbench/`` identical on both sides.
For each end-to-end metric in the parent's ``BENCHMARK.json`` it prints
each side's median and quartiles, how many pairs the change won (ties
count for neither side), and a verdict:

- ``gain``: the change won at least 9 of every 10 pairs and its median is
  better than the parent's by more than the parent's quartile spread;
- ``worse beyond bound``: the change's median is worse than the parent's
  by more than the metric's bound (a share of the parent's median);
- ``within bound``: anything else.

It also prints failed operations per run and, when a run prints a
response digest, whether the two sides' digests agree for each seed.
Exits 1 if any run failed to produce a result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    """``"13-22"`` or ``"1,2,5"`` (or a mix) → the listed seeds, in order."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float, timeout: float) -> dict:
    """One benchmark run; its result JSON plus the response digest (if any)
    and the wall time, or ``{"error": ...}``."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {timeout:.0f}s"}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-300:]}"}
    digest = re.search(r"response digest (\w+)", proc.stdout)
    result["digest"] = digest.group(1) if digest else None
    result["wall_s"] = time.perf_counter() - t0
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> tuple[int, str]:
    """(pairs the change won, verdict) under the rule in the module doc."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(change)
    gain = sign * (pm - cm)
    if wins >= 0.9 * len(parent) and gain > p3 - p1:
        return wins, "gain"
    if -gain > bound * abs(pm):
        return wins, "worse beyond bound"
    return wins, "within bound"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, choices=["composite", "tiles"])
    ap.add_argument("--seeds", required=True, type=parse_seeds, help='e.g. "13-22" or "1,2,5"')
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--timeout", type=float, default=900.0, help="per run, in seconds")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], args.workload, seed, args.seconds, args.timeout)
            r["seed"] = seed
            runs[side].append(r)
            shown = {m["name"]: r["metrics"][m["name"]]["value"] for m in metrics} if "metrics" in r else r
            print(f"seed {seed} {side}: {shown} failed={r.get('failed')}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seeds": args.seeds, "runs": runs}, f, indent=1)

    broken = [(s, r["seed"], r["error"]) for s in runs for r in runs[s] if "error" in r]
    for side, seed, err in broken:
        print(f"seed {seed} {side}: no result: {err}")
    ok = [i for i in range(len(args.seeds)) if all("error" not in runs[s][i] for s in runs)]
    if len(ok) < 2:
        print("fewer than two complete pairs; no verdict")
        return 1
    print(f"\n{args.workload}: {len(ok)} complete pairs, seeds {[args.seeds[i] for i in ok]}")
    for m in metrics:
        name = m["name"]
        vals = {s: [runs[s][i]["metrics"][name]["value"] for i in ok] for s in runs}
        wins, word = verdict(vals["parent"], vals["change"], m["better"], m["bound"])
        for side in ("parent", "change"):
            q1, q2, q3 = quartiles(vals[side])
            print(f"  {name} {side}: median {q2:.6g} {m['unit']}, quartiles {q1:.6g}-{q3:.6g} (spread {q3 - q1:.6g})")
        print(f"  {name}: change won {wins}/{len(ok)} pairs; verdict: {word}")
    failed = {s: [runs[s][i]["failed"] for i in ok] for s in runs}
    print(f"  failed per run: parent {failed['parent']}, change {failed['change']}")
    digests = [(args.seeds[i], runs["parent"][i]["digest"], runs["change"][i]["digest"]) for i in ok]
    if any(p or c for _, p, c in digests):
        differ = [(s, p, c) for s, p, c in digests if p != c]
        print(f"  response digests: {'equal on every seed' if not differ else f'differ: {differ}'}")
    return 1 if broken else 0


if __name__ == "__main__":
    sys.exit(main())
