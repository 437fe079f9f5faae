"""Interleaved A/B compare of two graft checkouts on the benchmark.

    python3 graftbench/compare.py PARENT_DIR CHANGE_DIR --seed 9001

It runs ten pairs, the number the verdict's 9-of-10 win rule is made
for, on every workload BENCHMARK.json lists. Each pair runs both sides
on the same seed, one after the other, and the side that goes first
alternates from pair to pair. Each side runs its own
`graftbench/run.py`, untraced. For every workload and end-to-end metric
it prints each side's median and quartiles, the share of pairs the change
wins (ties count for neither), and the verdict (stats.verdict): improved,
no worse (within the metric's bound), worse, or unresolved. Use a seed
that was not used while the change was written. Exit code 1 when any
verdict is "worse" or a run failed.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

PAIRS = 10


def run_side(checkout, workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(checkout, "graftbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout} {workload} seed {seed} exited with "
                           f"{out.returncode}: {out.stderr[-1000:]}")
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seed", type=int, required=True,
                    help="first seed; pair i uses seed + i")
    a = ap.parse_args(argv)
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    spec = json.load(open(os.path.join(sides["parent"], "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    values = {(w, s): [] for w in workloads for s in sides}
    for i in range(PAIRS):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                m = run_side(sides[side], w, a.seed + i)
                values[(w, side)].append(m)
                print(f"pair {i + 1}/{PAIRS} {w} {side}: "
                      + ", ".join(f"{k} {v:.4f}" for k, v in m.items()), flush=True)
    summary = {}
    bad = False
    for w in workloads:
        for m in spec["end_to_end"]:
            k = m["name"]
            pa = [r[k] for r in values[(w, "parent")]]
            ch = [r[k] for r in values[(w, "change")]]
            b_win, a_win, pairs = stats.wins(pa, ch, m["better"])
            v = stats.verdict(pa, ch, m["better"], m["bound"])
            bad = bad or v == "worse"
            qa, qc = stats.quartiles(pa), stats.quartiles(ch)
            summary[f"{w}.{k}"] = {"parent": qa, "change": qc,
                                   "change_wins": b_win, "parent_wins": a_win,
                                   "pairs": pairs, "verdict": v}
            print(f"{w} {k} [{m['unit']}] parent {qa[1]:.4f} ({qa[0]:.4f}-{qa[2]:.4f}) "
                  f"change {qc[1]:.4f} ({qc[0]:.4f}-{qc[2]:.4f}) "
                  f"change wins {b_win}/{pairs} (parent {a_win}) "
                  f"bound {m['bound']}: {v}")
    print(json.dumps(summary))
    return 1 if bad else 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        sys.exit(f"compare: {e}")
