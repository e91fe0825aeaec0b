"""A/B of two checkouts on one benchmark workload, in alternating pairs.

Usage, from the root of the changed checkout:

    python3 scripts/perfbench_ab.py --parent ../parent --workload batch_analytics \
        --pairs 10 --seed 101

Pair ``i`` runs the unchanged ``perfbench/run.py`` of each checkout once,
with seed ``--seed + i``, at the settings ``BENCHMARK.json`` fixes
(``run_seconds``, tracing off); the parent runs first in even pairs and
the change first in odd ones. For every end-to-end metric the script
prints each pair's values, each side's median and quartiles, and the
rule for claiming a gain: the change wins at least nine tenths of the
pairs (ties count for neither side) and the medians differ by more than
the parent's interquartile range. A run that fails or reports
``correct: false`` is printed, and its pair counts as no win.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    try:
        p = subprocess.run(
            cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
        )
    except subprocess.TimeoutExpired:
        return {"correct": False, "error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "error": f"exit {p.returncode}: {p.stderr[-500:]}"}
    return {**result, "detail": json.loads(lines[-2]) if len(lines) > 1 else {}}


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _value(run: dict, metric: str) -> float | None:
    if not run.get("correct"):
        return None
    return run["metrics"][metric]["value"]


def summarize(pairs: list[dict], metric: str, lower_is_better: bool) -> dict:
    """Per-side median and quartiles, wins, and the claim rule."""
    a = [v for p in pairs if (v := _value(p["parent"], metric)) is not None]
    b = [v for p in pairs if (v := _value(p["change"], metric)) is not None]
    wins = 0
    for p in pairs:
        pa, pb = _value(p["parent"], metric), _value(p["change"], metric)
        if pa is None or pb is None or pa == pb:
            continue
        wins += (pb < pa) == lower_is_better
    qa, qb = _quartiles(a), _quartiles(b)
    gap = abs(qa[1] - qb[1])
    iqr = qa[2] - qa[0]
    better = (qb[1] < qa[1]) == lower_is_better
    return {
        "metric": metric,
        "parent": {"q1": qa[0], "median": qa[1], "q3": qa[2], "n": len(a)},
        "change": {"q1": qb[0], "median": qb[1], "q3": qb[2], "n": len(b)},
        "wins": wins,
        "pairs": len(pairs),
        "median_gap": gap,
        "parent_iqr": iqr,
        "gain_claimable": better and wins * 10 >= 9 * len(pairs) and gap > iqr,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--out", help="also write every run's result to this JSON file")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"] == "lower") for m in bench["end_to_end"]]
    sides = {"parent": os.path.abspath(args.parent), "change": ROOT}

    pairs = []
    print("pair seed first " + " ".join(f"{n}:parent {n}:change" for n, _ in metrics))
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = _run(sides[side], args.workload, seed, bench["run_seconds"])
        pairs.append(pair)
        cells = []
        for name, _ in metrics:
            for side in ("parent", "change"):
                v = _value(pair[side], name)
                cells.append("FAIL" if v is None else f"{v:.3f}")
        print(f"{i:4d} {seed:4d} {order[0]:6s} " + " ".join(cells), flush=True)
        for side in ("parent", "change"):
            if not pair[side].get("correct"):
                print(f"     {side} run not correct: {json.dumps(pair[side])[:800]}")

    summaries = [summarize(pairs, name, lower) for name, lower in metrics]
    for s in summaries:
        pa, ch = s["parent"], s["change"]
        print(
            f"{s['metric']}: parent median {pa['median']:.3f} (q1 {pa['q1']:.3f}, "
            f"q3 {pa['q3']:.3f}); change median {ch['median']:.3f} (q1 {ch['q1']:.3f}, "
            f"q3 {ch['q3']:.3f}); change won {s['wins']}/{s['pairs']}; median gap "
            f"{s['median_gap']:.3f} vs parent IQR {s['parent_iqr']:.3f}; gain "
            f"{'claimable' if s['gain_claimable'] else 'not claimable'}"
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "pairs": pairs, "summary": summaries}, f)
    print(json.dumps({"workload": args.workload, "summary": summaries}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
