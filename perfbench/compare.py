#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--trace 0|1]

A result set is a directory of run artifacts as perfbench/run.py writes
them (--out-dir), typically one run per seed. For each workload x metric it
prints each side's median and quartiles (Python's statistics.quantiles,
n=4), each side's spread (q3 - q1) / median, the win rate of NEW over BASE
(the share of all (base, new) pairs in which new is better), and whether
the median moved by more than BASE's inter-quartile range. With
BENCHMARK.json at hand it also applies the benchmark's own gate: each
spread within the metric's bound (setup_s exempt) and NEW's median not
worse than BASE's by more than the bound. Exit code 1 when the gate fails.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load_set(d, trace):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            a = json.load(fh)
        if a.get("trace") != trace:
            continue
        m = a["per_layer"] if trace else a["end_to_end"]
        for k, v in m.items():
            out.setdefault(a["workload"], {}).setdefault(k, []).append(v)
    return out


def spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def win_rate(base, new, lower_better):
    pairs = [(b, n) for b in base for n in new]
    wins = sum(1 for b, n in pairs if (n < b if lower_better else n > b))
    ties = sum(1 for b, n in pairs if n == b)
    return (wins + 0.5 * ties) / len(pairs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    base, new = load_set(a.base, a.trace), load_set(a.new, a.trace)
    meta = spec(os.getcwd())
    ok = True
    cols = ("workload", "metric", "n", "base median [q1, q3]", "spread",
            "new median [q1, q3]", "spread", "Δmedian", "win", ">IQR", "gate")
    rows = []
    for w in sorted(set(base) & set(new)):
        for k in base[w]:
            if k not in new[w] or len(base[w][k]) < 2 or len(new[w][k]) < 2:
                continue
            b, n = base[w][k], new[w][k]
            bm, bq1, bq3, bs = stats.quartile_spread(b)
            nm, nq1, nq3, ns = stats.quartile_spread(n)
            m = meta.get(k, {})
            lower = m.get("better", "lower") == "lower"
            delta = (nm - bm) / bm if bm else 0.0
            worse = delta if lower else -delta
            gate = ""
            if "bound" in m:
                bound = m["bound"]
                passed = worse <= bound and (k == "setup_s" or (bs <= bound and ns <= bound))
                gate = "ok" if passed else "FAIL"
                ok &= passed
            rows.append((w, k, f"{len(b)}/{len(n)}", f"{bm:.4g} [{bq1:.4g}, {bq3:.4g}]",
                         f"{bs:.3f}", f"{nm:.4g} [{nq1:.4g}, {nq3:.4g}]", f"{ns:.3f}",
                         f"{delta:+.3f}", f"{win_rate(b, n, lower):.2f}",
                         "yes" if abs(nm - bm) > (bq3 - bq1) else "no", gate))
    widths = [max(len(str(r[i])) for r in rows + [cols]) for i in range(len(cols))]
    for r in [cols] + rows:
        print("  ".join(str(c).ljust(wd) for c, wd in zip(r, widths)))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
