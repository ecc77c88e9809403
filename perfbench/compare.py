#!/usr/bin/env python3
"""Compare two sets of benchmark records, metric by metric and workload
by workload.

    python3 perfbench/compare.py BASE NEW
    python3 perfbench/compare.py --spread RUNS

BASE and NEW are directories (or single files) of run records as
written by run.py to perfbench/runs/. Records are paired by workload
and, within a workload, in seed order.

For each end-to-end metric of BENCHMARK.json the verdict follows the
pair rule: the change is a gain when there are at least 10 pairs, it
wins at least 9 of every 10 (ties count for neither side) and its
median differs from the base median by more than the base's
interquartile range; a regression when its median is worse than the
base median by more than the metric's bound; unresolved when the base's
own spread exceeds the bound (unless every new run beats every base
run); otherwise unchanged. When the new records fail more executions
(exceptions or wrong digests) than the base records, no metric of that
workload counts as a gain or unchanged: the verdict is `failing`, and
the exit code is 1 as for a regression.

Traced records (--trace 1) are compared layer by layer: the median of
each per-layer metric, self times first.

--spread prints, for one set of untraced records, each end-to-end
metric's median and its interquartile range as a share of the median,
beside the metric's bound (a steady benchmark keeps the share below a
third of the bound).
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_records(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r and "workload" in r:
            out.append(r)
    return out


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def verdict(base, new, better, bound, base_failed=0, new_failed=0):
    """Pair-rule verdict for one metric on one workload."""
    pairs = list(zip(base, new))
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    losses = sum(1 for b, n in pairs if sign * (n - b) < 0)
    mb, mn = statistics.median(base), statistics.median(new)
    spread = iqr(base) / mb if mb else 0.0
    worse = sign * (mb - mn) / mb if mb else 0.0
    if new_failed > base_failed:
        v = "failing"
    elif len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mn - mb) > iqr(base):
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif spread > bound and not (
            min(new) > max(base) if better == "higher" else max(new) < min(base)):
        v = "unresolved"
    else:
        v = "unchanged"
    return {"verdict": v, "pairs": len(pairs), "wins": wins, "losses": losses,
            "base_median": mb, "new_median": mn, "base_iqr": iqr(base), "new_iqr": iqr(new)}


def group(records, trace):
    g = {}
    for r in sorted(records, key=lambda r: r["seed"]):
        if bool(r["trace"]) == trace:
            g.setdefault(r["workload"], []).append(r)
    return g


def main(base_path, new_path):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, new = load_records(base_path), load_records(new_path)
    print(f"{'workload':12s} {'metric':24s} {'verdict':10s} {'pairs':>5s} {'wins':>4s} "
          f"{'base_med':>12s} {'new_med':>12s} {'delta%':>8s} {'base_iqr':>10s}")
    bad = 0
    gb, gn = group(base, False), group(new, False)
    for wl in sorted(set(gb) & set(gn)):
        for m in bench["end_to_end"]:
            b = [r["metrics"][m["name"]]["value"] for r in gb[wl] if m["name"] in r["metrics"]]
            n = [r["metrics"][m["name"]]["value"] for r in gn[wl] if m["name"] in r["metrics"]]
            if not b or not n:
                continue
            v = verdict(b, n, m["better"], m["bound"],
                        sum(r["failed"] for r in gb[wl]), sum(r["failed"] for r in gn[wl]))
            bad += v["verdict"] in ("regression", "failing")
            delta = 100.0 * (v["new_median"] - v["base_median"]) / v["base_median"]
            print(f"{wl:12s} {m['name']:24s} {v['verdict']:10s} {v['pairs']:5d} {v['wins']:4d} "
                  f"{v['base_median']:12.4f} {v['new_median']:12.4f} {delta:8.1f} {v['base_iqr']:10.4f}")
    tb, tn = group(base, True), group(new, True)
    for wl in sorted(set(tb) & set(tn)):
        print(f"\n{wl}: per-layer medians (traced runs: {len(tb[wl])} base, {len(tn[wl])} new)")
        names = [m["name"] for m in bench["per_layer"]]
        names.sort(key=lambda n: (not n.startswith("self."), names.index(n)))
        for name in names:
            b = [r["metrics"][name]["value"] for r in tb[wl] if name in r["metrics"]]
            n = [r["metrics"][name]["value"] for r in tn[wl] if name in r["metrics"]]
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            if mb == 0 and mn == 0:
                continue
            print(f"  {name:34s} {mb:14.4f} -> {mn:14.4f}  ({mn - mb:+.4f})")
    return 1 if bad else 0


def spread(path):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    unsteady = 0
    for wl, rs in sorted(group(load_records(path), False).items()):
        for m in bench["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in rs if m["name"] in r["metrics"]]
            if not xs:
                continue
            med = statistics.median(xs)
            share = iqr(xs) / med if med else 0.0
            ok = share < m["bound"] / 3
            unsteady += not ok
            print(f"{wl:12s} {m['name']:16s} runs {len(xs):3d} median {med:12.4f} "
                  f"iqr/median {share:7.4f} bound/3 {m['bound'] / 3:7.4f} {'ok' if ok else 'UNSTEADY'}")
    return 1 if unsteady else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--spread":
        sys.exit(spread(sys.argv[2]))
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
