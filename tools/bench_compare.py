#!/usr/bin/env python3
"""Compare two bench_history records (round-15 verdict #7).

Cross-round normalized totals were being compared across records whose
calibrations differed by up to 6x (r15 close: cal 11.99 vs r14's 1.97) —
numbers that measure the box, not the code. This tool is the sanctioned
comparison path:

  - ALWAYS prints raw totals and the median of per-query ratios with its
    binomial CI (the order-statistic channel, robust to uniform drift);
  - prints each record's all-in total (value + warmupSeconds: the battery
    plus the untimed pre-battery work), so a record that pre-paid shared
    stores untimed and one that charged them to entries compare like for
    like, and lists every shared store whose `sharedStores` attribution
    (the entry that built it) differs between the records;
  - prints normalized totals ONLY when both records are comparable:
    neither is marked cal_contaminated, and their calibrations agree
    within CAL_TOLERANCE (default 1.25x). Otherwise it REFUSES, and says
    exactly why.

Usage: bench_compare.py <record_a.json> <record_b.json> [--cal-tol 1.25]
"""
import json
import math
import sys

CAL_TOLERANCE = 1.25


def load(path):
    with open(path) as f:
        return json.load(f)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def all_in(rec):
    """value + warmupSeconds; None when the record predates warmupSeconds."""
    w = rec.get("warmupSeconds")
    return None if w is None else rec.get("value") + w


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tol = CAL_TOLERANCE
    if "--cal-tol" in sys.argv:
        tol = float(sys.argv[sys.argv.index("--cal-tol") + 1])
    if len(args) != 2:
        sys.exit(__doc__)
    pa, pb = args
    a, b = load(pa), load(pb)

    qa = {k: v for k, v in a.get("queries", {}).items() if v >= 0}
    qb = {k: v for k, v in b.get("queries", {}).items() if v >= 0}
    common = sorted(set(qa) & set(qb))
    # jitter floor mirrors Bench's A/B: sub-0.3 s denominators are codegen
    # noise, not signal
    ratios = sorted(qa[q] / qb[q] for q in common if qb[q] > 0.3)

    print(f"A: {pa}")
    print(f"   raw total {a.get('value'):.1f} s over {len(qa)} queries, "
          f"cal {a.get('calibration')} "
          f"(start {a.get('calibration_start')}, "
          f"contaminated {a.get('cal_contaminated')})")
    print(f"B: {pb}")
    print(f"   raw total {b.get('value'):.1f} s over {len(qb)} queries, "
          f"cal {b.get('calibration')} "
          f"(start {b.get('calibration_start')}, "
          f"contaminated {b.get('cal_contaminated')})")
    print(f"common queries: {len(common)} ({len(ratios)} above jitter floor)")
    for tag, rec in (("A", a), ("B", b)):
        tot = all_in(rec)
        print(f"all-in total {tag}: " + ("n/a (no warmupSeconds)" if tot is None
              else f"{tot:.1f} s (warmup {rec['warmupSeconds']:.1f} s)"))
    sa, sb = a.get("sharedStores", {}), b.get("sharedStores", {})
    moved = sorted(k for k in set(sa) | set(sb) if sa.get(k) != sb.get(k))
    print(f"shared stores attributed differently: {len(moved)}")
    for k in moved:
        print(f"   {k}: A {sa.get(k, '-')}  B {sb.get(k, '-')}")

    if ratios:
        n = len(ratios)
        med = median(ratios)
        half = 1.96 * math.sqrt(n) / 2
        lo = ratios[max(0, math.floor((n - 1) / 2 - half))]
        hi = ratios[min(n - 1, math.ceil((n - 1) / 2 + half))]
        print(f"per-query ratio A/B: median {med:.3f} [CI {lo:.3f}, {hi:.3f}]"
              f" — the cross-calibration-safe channel")

    # ---- normalized totals: gated ----------------------------------------
    reasons = []
    for tag, rec in (("A", a), ("B", b)):
        if rec.get("cal_contaminated") is True:
            reasons.append(f"{tag} is marked cal_contaminated")
        if rec.get("calibration") in (None, 0):
            reasons.append(f"{tag} has no calibration")
    ca, cb = a.get("calibration"), b.get("calibration")
    if ca and cb:
        drift = max(ca / cb, cb / ca)
        if drift > tol:
            reasons.append(
                f"calibrations differ {drift:.2f}x (> {tol}x tolerance): "
                "the synthetic constant under-corrects contention, so "
                "normalized totals would compare boxes, not code")
    if reasons:
        print("normalized totals: REFUSED — " + "; ".join(reasons))
        sys.exit(2)
    print(f"normalized totals: A {a['value'] / ca:.1f}  B {b['value'] / cb:.1f}"
          f"  ratio {(a['value'] / ca) / (b['value'] / cb):.3f}")


if __name__ == "__main__":
    main()
