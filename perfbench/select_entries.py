#!/usr/bin/env python3
"""Derive the registry workload's timed entry set from a graft.Bench record.

    python3 perfbench/select_entries.py bench_quiet_sf0.1_c32.json

The record's `pass1` holds each entry's first-pass seconds, memo misses
included (pass 2 of a memoized entry reads 0.01-0.02 s, so pass 1 is the
honest cost). The rule:

- families: q (ops/), and d, s, t and p (ext/, functions/);
- eligible: every entry of those families except the ones that write
  outside their data directory (d32 and d33 write under a fixed /tmp path);
- pick: per family, the entry at its cost-weighted median. Sorted by cost
  (ties by name), it is the first entry at which the running cost reaches
  half of the family's total, so half of the family's seconds go to
  cheaper entries and half to dearer ones.

Prints each family's share of the eligible first-pass cost and its pick,
with the pick's pass-1 and pass-2 seconds; Registry.entries in
perfbench/src holds the result for the committed record.
"""
import json
import sys

FAMILIES = "qdstp"
INELIGIBLE = {"d32_stream_dedup", "d33_stream_dedup_recovery"}


def select(pass1):
    """{family: (pick, family cost)}."""
    out = {}
    for f in FAMILIES:
        costs = sorted((v, k) for k, v in pass1.items() if k[0] == f and k not in INELIGIBLE)
        total, cum = sum(v for v, _ in costs), 0.0
        for v, k in costs:
            cum += v
            if cum >= total / 2:
                out[f] = (k, total)
                break
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.splitlines()[2].strip())
    with open(sys.argv[1]) as fh:
        rec = json.load(fh)
    picks = select(rec["pass1"])
    grand = sum(t for _, t in picks.values())
    for f, (k, t) in picks.items():
        print(f"{f}: cost share {t / grand:.3f}: {k} "
              f"({rec['pass1'][k]:.2f} s / {rec['pass2'][k]:.2f} s)")
    print(json.dumps([k for k, _ in picks.values()]))


if __name__ == "__main__":
    main()
