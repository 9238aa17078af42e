#!/usr/bin/env python3
"""Three-point decade table from bench/history.jsonl.

Usage: python3 scripts/decade_table.py sf0.1 sf1 sf10

Prints the totals row (markdown) for SCALE.md plus per-query exponents
for both decades, reusing exponents.py's clean-line selection (skips
partial/failed/dirty lines).
"""
import sys
import math
import os.path

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import exponents as ex


# With --allow-failed, a line with more than this many failed queries
# is an ABORTED run (SIGTERM cascade, dead session), not a measurement
# with a blemish. Lines at or under the cap are accepted with a warning
# per failed query, and main() excludes those queries from the
# common-set totals: their recorded time may be a failing-pass time.
# Equal to graft.Bench.maxAcceptedFailures (BenchContractSpec).
MAX_ACCEPTED_FAILURES = 3

# The 11 deliberately-exhaustive audit/truth probes (the r11 list,
# SCALE.md; mirrored from graft.Bench.probeQueries). Decade runs may
# skip them (SPARK_GRAFT_SKIP_PROBES=1, r15) — the table prints the
# production/probe split either way, with "n/a" on skipped sides.
PROBES = {
    "nn01_cosine_topk", "nn03_embedding_neardup", "nn05_lsh_recall",
    "nn06_ivf_allprobe", "nn09_adc_recall", "fz02_prefix_jaccard",
    "sd01_semantic_dedup", "dd06_dup_clusters", "bj01_band_join",
    "dd13_best_of_cluster", "sm04_leakage_safe_split",
}


def main():
    allow_failed = "--allow-failed" in sys.argv
    if allow_failed:
        sys.argv.remove("--allow-failed")
    names = sys.argv[1:4]
    cap = MAX_ACCEPTED_FAILURES if allow_failed else 0
    entries = [ex.latest(bn, cap) for bn in names]
    for bn, d in zip(names, entries):
        for q in d.get("failed") or []:
            print(f"# WARNING {bn} {d['ts']}: {q} failed in >=1 pass; "
                  "excluded from the common-set totals", file=sys.stderr)
    for side, d in zip(names, entries):
        c = d.get("corpus") or {}
        if c.get("dirty"):
            sys.exit(f"{side} entry {d['ts']} is corpus-dirty; remeasure")
        print(f"# {side}: ts={d['ts']} total={d['value']} "
              f"n={len(d['queries'])} iters={d.get('iters')} "
              f"corpus={c.get('id', '(none)')}")
    qmaps = [d["queries"] for d in entries]
    common = sorted(set(qmaps[0]) & set(qmaps[1]) & set(qmaps[2]))
    dropped = sorted({q for d in entries for q in (d.get("failed") or [])}
                     & set(common))
    if dropped:
        print(f"# excluded from totals (failed in >=1 pass on >=1 side): "
              f"{', '.join(dropped)}")
        common = [q for q in common if q not in dropped]
    tots = [sum(q[k] for k in common) for q in qmaps]
    e01 = ex.exp(tots[0], tots[1], 1.0)
    e12 = ex.exp(tots[1], tots[2], 1.0)
    e02 = ex.exp(tots[0], tots[2], 2.0)
    print(f"\n| | {names[0]} (min of 2) | {names[1]} (min of 2) | "
          f"{names[2]} (min of 2) | exp/decade |")
    print("|---|---|---|---|---|")
    print(f"| total ({len(common)} queries) | {tots[0]:.1f} s | "
          f"{tots[1]:.1f} s | {tots[2]:.1f} s | "
          f"{e01:.2f} then {e12:.2f} (two-decade {e02:.2f}) |")
    # production/probe split rows: computed on the common set so they
    # stay comparable across skip-probes and full lines; when a side
    # skipped the probes the probe row is n/a (its common-set probe
    # total would be vacuously 0, not a measurement)
    common_probes = [q for q in common if q in PROBES]
    common_prod = [q for q in common if q not in PROBES]
    ptot = [sum(q[k] for k in common_prod) for q in qmaps]
    print(f"| production paths ({len(common_prod)} q) | {ptot[0]:.1f} | "
          f"{ptot[1]:.1f} | {ptot[2]:.1f} | "
          f"{ex.exp(ptot[0], ptot[1], 1):.2f} then "
          f"{ex.exp(ptot[1], ptot[2], 1):.2f} "
          f"(two-decade {ex.exp(ptot[0], ptot[2], 2):.2f}) |")
    any_skipped = any(d.get("skip_probes") for d in entries)
    if common_probes and not any_skipped:
        btot = [sum(q[k] for k in common_probes) for q in qmaps]
        print(f"| audit/truth probes ({len(common_probes)} q) | "
              f"{btot[0]:.1f} | {btot[1]:.1f} | {btot[2]:.1f} | "
              f"{ex.exp(btot[0], btot[1], 1):.2f} then "
              f"{ex.exp(btot[1], btot[2], 1):.2f} "
              f"(two-decade {ex.exp(btot[0], btot[2], 2):.2f}) |")
    else:
        print("| audit/truth probes | n/a | n/a | n/a | "
              "skipped on >=1 side (skip_probes) |")
    print("\n## slowest 25 at", names[2], "(t_sf0.1, t_sf1, t_sf10, "
          "exp d1, exp d2, exp 2dec)")
    for q in sorted(common, key=lambda q: -qmaps[2][q])[:25]:
        a, b, c = (m[q] for m in qmaps)
        print(f"{q}\t{a:.2f}\t{b:.2f}\t{c:.2f}\t"
              f"{ex.exp(a, b, 1):.2f}\t{ex.exp(b, c, 1):.2f}\t{ex.exp(a, c, 2):.2f}")
    print("\n## worst two-decade exponents (>= 0.55)")
    for q in sorted(common, key=lambda q: -ex.exp(qmaps[0][q], qmaps[2][q], 2)):
        a, b, c = (m[q] for m in qmaps)
        e = ex.exp(a, c, 2)
        if e < 0.55:
            break
        print(f"{q}\t{a:.2f}\t{b:.2f}\t{c:.2f}\texp {e:.2f}")


if __name__ == "__main__":
    main()
