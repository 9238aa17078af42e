#!/usr/bin/env python3
"""Per-family scaling exponents from bench/history.jsonl.

Usage: python3 scripts/exponents.py <sf_small_basename> <sf_big_basename> [decades]

Picks the LATEST history entry whose "sf" path BASENAME equals each
argument (exact match — a suffix like "1" would be ambiguous between
sf1/sf0.1/sf0.001), joins per-query times, and prints per-family and
per-query exponents log10(t_big/t_small)/decades (1.0 = linear in
data, ~0 = floor-bound). Only queries present in both runs are
compared. Times are clamped at 1 ms before the log so a fast query
recorded as 0.0 can't crash the math. Works from any CWD (the history
path resolves relative to this script's repo).
"""
import json
import math
import os.path
import sys

HISTORY = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "..", "bench", "history.jsonl")

EPS = 1e-3  # clamp for log-ratio: floor-bound queries, zero-rounded times


def skip_reason(d, max_failed=0):
    """Why history line `d` is not a decade measurement, or None if it
    is one. The one eligibility rule for every table script."""
    # Aborted/partial runs are recorded for the audit trail but are
    # not measurements: a run with more than `max_failed` failures
    # (e.g. the 2026-08-14 sf1 line where a harness SIGTERM stopped the
    # SparkContext mid-pass and every later query failed fast) or a
    # SPARK_GRAFT_ONLY subset would silently poison the exponent table.
    # Concurrent-mode lines are a separate population: their value is
    # batch wall-clock and per-query times are contended.
    if (d.get("n_failed", 0) > max_failed or d.get("only")
            or d.get("concurrent")):
        return (f"n_failed={d.get('n_failed')} only={d.get('only')} "
                f"concurrent={d.get('concurrent')}")
    # Decade legs run at local[32] (pipeline convention); the sf0.1
    # BAND runs at local[4] and also appends full-suite lines, so
    # latest-wins would mix configs in one exponent row. Lines without
    # "cpus" predate the key and stay eligible (those decade legs were
    # all 32-cpu by the same convention).
    if "cpus" in d and d["cpus"] != 32:
        return f"cpus={d['cpus']} (decade legs are local[32])"
    return None


def latest(basename, max_failed=0):
    """The latest eligible history line whose sf basename is `basename`."""
    hit = None
    for line in open(HISTORY):
        d = json.loads(line)
        if os.path.basename(d.get("sf", "").rstrip("/")) != basename:
            continue
        why = skip_reason(d, max_failed)
        if why:
            print(f"# skipping {d.get('ts')} ({basename}): {why}",
                  file=sys.stderr)
            continue
        hit = d
    if hit is None:
        sys.exit(f"no clean history entry with sf basename {basename!r}")
    return hit


def exp(small_t, big_t, decades):
    return math.log10(max(big_t, EPS) / max(small_t, EPS)) / decades


def main():
    small_bn, big_bn = sys.argv[1], sys.argv[2]
    decades = float(sys.argv[3]) if len(sys.argv) > 3 else 1.0
    small, big = latest(small_bn), latest(big_bn)
    if small is big or small["sf"] == big["sf"]:
        sys.exit(f"small and big resolve to the same entry ({small['sf']}) "
                 "— pass two distinct sf basenames, e.g. sf0.1 sf1")
    # Corpus fingerprints (round 11+): a dirty line (a query wrote into
    # the corpus mid-run) is not a measurement; and print each side's
    # corpus id so two exponent tables quoting the "same" SF are
    # checkable against corpus rebuilds.
    for side, d in (("small", small), ("big", big)):
        c = d.get("corpus") or {}
        if c.get("dirty"):
            sys.exit(f"{side} entry {d['ts']} has corpus dirty=true "
                     "— the corpus was modified during the run; remeasure")
        print(f"# {side} corpus id: {c.get('id', '(pre-r11 line: none)')}",
              file=sys.stderr)
    qs, qb = small["queries"], big["queries"]
    common = sorted(set(qs) & set(qb))
    print(f"# {len(common)} common queries; small={small['sf']} big={big['sf']}")
    fams = {}
    for q in common:
        f = q.split("_")[0].rstrip("0123456789")
        fams.setdefault(f, [0.0, 0.0])
        fams[f][0] += qs[q]
        fams[f][1] += qb[q]
    ts = sum(qs[q] for q in common)
    tb = sum(qb[q] for q in common)
    print(f"total: {ts:.1f} s -> {tb:.1f} s  exp {exp(ts, tb, decades):.2f}")
    print("\n## families (small_s, big_s, exponent)")
    for f, (a, b) in sorted(fams.items(), key=lambda kv: -kv[1][1]):
        print(f"{f}\t{a:.2f}\t{b:.2f}\t{exp(a, b, decades):.2f}")
    print("\n## slowest 25 at big SF (small_s, big_s, exponent)")
    for q in sorted(common, key=lambda q: -qb[q])[:25]:
        print(f"{q}\t{qs[q]:.2f}\t{qb[q]:.2f}\t{exp(qs[q], qb[q], decades):.2f}")


if __name__ == "__main__":
    main()
