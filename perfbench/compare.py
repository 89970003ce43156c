"""Compares two sets of benchmark runs, or summarizes one.

    python3 perfbench/compare.py PARENT_RUNS [CHANGE_RUNS] [--layers]

Run from the root of the checkout (it reads BENCHMARK.json there). Each
argument is a directory (or a glob) of run records, the JSON files
perfbench/run.py writes to .bench_build/runs. Records are grouped by
workload; untraced records give the end-to-end metrics, traced records
the per-layer ones.

For each end-to-end metric of BENCHMARK.json x workload it prints each
side's median and quartiles and their spread (interquartile distance /
median), then a verdict under the metric's bound:

  gain        the change wins >= 9/10 of the seed-paired runs, and the
              medians differ by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  either side's spread exceeds the bound, unless every run of
              the change is better than every run of the parent
  same        none of the above

With one set it prints the spreads and flags any above a third of the
bound (setup_s is exempt: only its median is compared across sets). The
other metrics a record carries (error_rate, storage_pinned_mb and the p50
of each layer group) are printed without a verdict. Per-layer metrics have
no bounds; `--layers` prints their medians. Runs whose before/after
canaries differ by more than 2.5x were taken while the host was busy with
something else; they are left out, with a note.
"""
import argparse
import glob
import json
import os
import statistics
import sys

def load(arg):
    files = sorted(glob.glob(os.path.join(arg, "*.json")) if os.path.isdir(arg) else glob.glob(arg))
    runs = [json.load(open(f)) for f in files if not f.endswith(".spans.jsonl")]
    if not runs:
        sys.exit(f"no run records in {arg}")
    return runs


def contended(r):
    """Canaries that differ by more than 2.5x flag a run taken while the host
    was busy with something else (on a quiet host the first, taken while
    the JIT is still compiling, reads up to ~2.3x the second)."""
    a, b = r["canary_before_s"], r["canary_after_s"]
    return max(a, b) > 2.5 * min(a, b)


def by_workload(runs, traced):
    out = {}
    for r in runs:
        if bool(r.get("traced")) != traced:
            continue
        if contended(r):
            print(f"leaving out contended run {r['workload']} seed {r['seed']}: canary "
                  f"{r['canary_before_s']:.3f} s -> {r['canary_after_s']:.3f} s")
            continue
        out.setdefault(r["workload"], []).append(r)
    return out


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / abs(med) if med else float("inf")
    return med, q1, q3, spread


def better(a, b, direction):
    """True when value b is better than value a."""
    return b > a if direction == "higher" else b < a


def verdict(metric, pa, pb):
    """pa, pb: lists of (seed, value) for the parent and the change."""
    va, vb = [v for _, v in pa], [v for _, v in pb]
    ma, qa1, qa3, sa = stats(va)
    mb, _, _, sb = stats(vb)
    d, bound = metric["better"], metric["bound"]
    seeds_b = dict(pb)
    pairs = [(v, seeds_b[s]) for s, v in pa if s in seeds_b]
    wins = sum(better(a, b, d) for a, b in pairs)
    worse = (mb - ma) / abs(ma) if d == "lower" else (ma - mb) / abs(ma)
    dominates = all(better(a, b, d) for a in va for b in vb)
    if pairs and wins >= 0.9 * len(pairs) and better(ma, mb, d) and abs(mb - ma) > qa3 - qa1:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif max(sa, sb) > bound and not dominates:
        v = "unresolved"
    else:
        v = "same"
    return v, f"wins {wins}/{len(pairs)}  change {-worse:+.1%}"


def fmt(values):
    med, q1, q3, spread = stats(values)
    return f"{med:12.5g} [{q1:.5g}, {q3:.5g}] spread {spread:6.1%}"


def ungated(r):
    """The values a record carries beside BENCHMARK.json's end-to-end metrics."""
    out = {k: m["value"] for k, m in r["metrics"].items()}
    out.update({f"p50.{c}": v for c, v in r["per_class_p50_ms"].items()})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--layers", action="store_true", help="print per-layer medians too")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    gated = {m["name"] for m in spec["end_to_end"]}
    sets = [by_workload(load(x), False) for x in [a.parent, a.change] if x]
    bad = 0
    for w in sorted(set().union(*sets)):
        print(f"== {w}")
        for m in spec["end_to_end"]:
            sides = [[(r["seed"], r["metrics"][m["name"]]["value"]) for r in s.get(w, [])]
                     for s in sets]
            if not all(sides):
                print(f"  {m['name']:18s} missing on one side")
                bad += 1
                continue
            if a.change:
                v, detail = verdict(m, *sides)
                bad += v in ("regression", "unresolved")
                print(f"  {m['name']:18s} parent {fmt([x for _, x in sides[0]])}")
                print(f"  {'':18s} change {fmt([x for _, x in sides[1]])}  {v}  {detail}")
            else:
                vals = [x for _, x in sides[0]]
                spread = stats(vals)[3]
                steady = m["name"] == "setup_s" or spread <= m["bound"] / 3
                bad += not steady
                print(f"  {m['name']:18s} n={len(vals):2d} {fmt(vals)}  bound {m['bound']:.0%}"
                      f"  {'ok' if steady else 'TOO WIDE'}")
        print("  not gated:")
        for k in sorted(set().union(*(ungated(r) for s in sets for r in s.get(w, []))) - gated):
            cols = [[ungated(r)[k] for r in s.get(w, []) if k in ungated(r)] for s in sets]
            print(f"  {k:18s} " + "  ".join(f"{stats(c)[0]:12.5g}" if c else f"{'-':>12s}"
                                            for c in cols))
    if a.layers:
        traced = [by_workload(load(x), True) for x in [a.parent, a.change] if x]
        for w in sorted(set().union(*traced)):
            print(f"== {w} (traced)")
            for m in spec["per_layer"]:
                cols = []
                for s in traced:
                    vals = [r["layer_metrics"][m["name"]]["value"] for r in s.get(w, [])]
                    cols.append(f"{statistics.median(vals):14.6g}" if vals else f"{'-':>14s}")
                print(f"  {m['name']:34s}{''.join(cols)} {m['unit']}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
