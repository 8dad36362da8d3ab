"""Interleaved A/B: one copy of this benchmark against a base and a
candidate tree, in fresh processes, in A/B/B/A order.

    git worktree add /tmp/hexspark-base <base-commit>
    python3 perfbench/ab.py --base /tmp/hexspark-base --cand . \\
        --workload spatial --pairs 10

Every run measures ``run_seconds`` from BENCHMARK.json.  Pair n runs
both trees on seed n (1, 2, ...), base first on odd pairs and
candidate first on even ones, so neither side always runs warm or
late.  For every end-to-end metric, and for every operation's time
(``op_s.<op>``, which has no bound), it reports each side's
median and quartiles, the per-pair ratios (candidate / base), and the
verdict of the nine-in-ten-pairs rule: a gain (or a regression) is
claimed only when one side wins at least 90% of the pairs and the
medians differ by more than the base's own quartile spread, over at
least ten pairs.
Hypervisor steal is recorded per run, so pairs from a noisy stretch
can be told apart.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10  # fewer pairs never support a claim


def run_once(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One fresh benchmark process in ``tree``; its label and result.
    A failed run, wrong results included, stops the comparison."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"run in {tree} (seed {seed}) failed with code {out.returncode}")
    return {"label": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base: list[float], cand: list[float], better: str) -> dict:
    """Per-pair ratios and the nine-in-ten-pairs rule for one metric."""
    sign = 1.0 if better == "lower" else -1.0
    cand_wins = sum(1 for a, b in zip(base, cand) if sign * (b - a) < 0)
    base_wins = sum(1 for a, b in zip(base, cand) if sign * (b - a) > 0)
    bq, cq = quartiles(base), quartiles(cand)
    spread = bq[2] - bq[0]
    n = len(base)
    apart = n >= MIN_PAIRS and abs(cq[1] - bq[1]) > spread
    if apart and cand_wins >= 0.9 * n:
        call = "gain"
    elif apart and base_wins >= 0.9 * n:
        call = "regression"
    else:
        call = "no claim"
    return {
        "base": {"median": bq[1], "q1": bq[0], "q3": bq[2]},
        "cand": {"median": cq[1], "q1": cq[0], "q3": cq[2]},
        "ratios": [b / a if a else float("nan") for a, b in zip(base, cand)],
        "cand_wins": cand_wins, "base_wins": base_wins, "pairs": n,
        "verdict": call,
    }


def main(argv) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="root of the base tree")
    p.add_argument("--cand", required=True, help="root of the candidate tree")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--pairs", type=int, default=10)
    a = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    report = {}
    for w in a.workload:
        runs = {"base": [], "cand": []}
        steal = []
        for i in range(a.pairs):
            order = ("base", "cand") if i % 2 == 0 else ("cand", "base")
            for side in order:
                r = run_once(getattr(a, side), w, i + 1, spec["run_seconds"])
                # the end-to-end metrics, then each operation's time
                runs[side].append({**{k: v["value"] for k, v in r["result"]["metrics"].items()},
                                   **{f"op_s.{k}": v for k, v in r["label"]["op_s"].items()}})
                steal.append(r["label"]["box"]["steal_pct"])
            print(f"{w} pair {i + 1}/{a.pairs} done", file=sys.stderr)
        report[w] = {
            "metrics": {name: verdict([r[name] for r in runs["base"]], [r[name] for r in runs["cand"]],
                                      better.get(name, "lower"))
                        for name in runs["base"][0]},
            "steal_pct_per_run": steal,
        }
        for name, v in report[w]["metrics"].items():
            print(f"{w:10s} {name:36s} base {v['base']['median']:10.4f} "
                  f"cand {v['cand']['median']:10.4f}  wins {v['cand_wins']}/{v['pairs']}  {v['verdict']}",
                  file=sys.stderr)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
