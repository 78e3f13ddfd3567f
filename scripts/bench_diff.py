#!/usr/bin/env python3
"""Cross-round bench comparison implementing the README's two-step
noise rule in one command (round 13):

    python3 scripts/bench_diff.py OLD_bench_out.json NEW_bench_out.json

Step 1 — ambient factors: prints each artifact's calibration line
(factor median + per-probe factors) if present; a sustained factor
>= ~1.3 marks that artifact load-contaminated — normalize or rerun.

Step 2 — per-query uniformity: a UNIFORM per-query ratio across
queries neither round touched is machine weather (host CPU wanders a
~±25% band between quiet windows — measured round 13); a CONCENTRATED
ratio is a code signal. Queries moving >= max(2x, 2x the median
ratio) are listed as candidates; per the standing rule each candidate
is only real if it reproduces under an isolated
`graft.Bench q_name` re-run (suite position alone manufactures 2-3x).

Inputs are bench_out.json-style files: one JSON object per line, the
per-query min map on the line with "metric":"queries".

Given two perfbench result lines instead (the last stdout line of
`perfbench/run.py`, a JSON object with a "metrics" map — saved to a
file), it prints every metric of the pair before → after: counts
(unit "count") exactly with their difference, every other metric with
its ratio. Traced runs (`--trace 1`) carry the per-layer metrics, so
this is the per-layer diff of one change:

    python3 scripts/bench_diff.py parent_trace.json change_trace.json
"""
import json
import statistics
import sys


def load(path):
    queries, calib, total = {}, None, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            m = d.get("metric")
            if m == "queries":
                queries = d["queries"]
            elif m == "calibration":
                calib = d
            elif m == "total":
                total = d
    if not queries:
        sys.exit(f"{path}: no per-query map found (need the "
                 '"metric":"queries" line of a bench_out.json)')
    return queries, calib, total


def load_result(path):
    """The last perfbench result line in `path`, or None if it has none."""
    res = None
    with open(path) as f:
        for line in f:
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(d, dict) and isinstance(d.get("metrics"), dict):
                res = d
    return res


def diff_results(old, new):
    """Print each metric of two perfbench result lines, before → after."""
    for tag, r in (("OLD", old), ("NEW", new)):
        print(f"[{tag}] correct={r.get('correct')} attempted={r.get('attempted')} "
              f"failed={r.get('failed')}")
    om, nm = old["metrics"], new["metrics"]
    names = list(om) + [n for n in nm if n not in om]
    width = max(len(n) for n in names)
    for n in names:
        a, b = om.get(n, {}).get("value"), nm.get(n, {}).get("value")
        unit = (om.get(n) or nm.get(n)).get("unit", "")
        if a is None or b is None:
            print(f"{n:{width}s}  {a} → {b} {unit}  (only on one side)")
        elif unit == "count":
            print(f"{n:{width}s}  {a:g} → {b:g}  ({b - a:+g})")
        else:
            ratio = f"x{b / a:.3f}" if a else "n/a"
            print(f"{n:{width}s}  {a:.3f} → {b:.3f} {unit}  {ratio}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old_r, new_r = load_result(sys.argv[1]), load_result(sys.argv[2])
    if old_r and new_r:
        diff_results(old_r, new_r)
        return
    old_q, old_c, old_t = load(sys.argv[1])
    new_q, new_c, new_t = load(sys.argv[2])

    factors = {}
    for tag, c, t in (("OLD", old_c, old_t), ("NEW", new_c, new_t)):
        tot = f"total={t['value']:.1f}s n={t.get('n_queries')}" if t else ""
        if c:
            fs = c.get("ambient_factor", [])
            # one median for both the print and the flag (r13 advice:
            # the old upper-median flag could disagree with the printed
            # interpolated value exactly at the 1.3 boundary)
            med = statistics.median(fs) if fs else float("nan")
            factors[tag] = med
            flag = "  ** LOAD-CONTAMINATED (sustained >=1.3) **" \
                if fs and med >= 1.3 else ""
            print(f"[{tag}] {tot}  ambient_factor median={med:.3f} "
                  f"probes={['%.2f' % f for f in fs]}{flag}")
        else:
            print(f"[{tag}] {tot}  (no calibration line — pre-r13 artifact)")

    common = sorted(set(old_q) & set(new_q))
    only_old = sorted(set(old_q) - set(new_q))
    only_new = sorted(set(new_q) - set(old_q))
    # timings <= 0 are error sentinels (-1.0): excluded from ratios AND
    # from the totals (r13 advice: summing sentinels skewed the totals)
    valid = [q for q in common if old_q[q] > 0 and new_q[q] > 0]
    ratios = {q: new_q[q] / old_q[q] for q in valid}
    print(f"\ncommon={len(common)} (+{len(only_new)} new, "
          f"-{len(only_old)} removed, {len(common) - len(valid)} with "
          "error sentinels excluded)")
    if not ratios:
        print("no comparable common queries (disjoint sets or all error "
              "sentinels) — nothing to adjudicate")
        print("VERDICT: NOT-COMPARABLE")
        return
    rs = sorted(ratios.values())
    med = statistics.median(rs)
    mean = statistics.mean(rs)
    q1, q3 = rs[len(rs) // 4], rs[3 * len(rs) // 4]
    print(f"per-query ratio: median={med:.3f} mean={mean:.3f} "
          f"IQR=[{q1:.3f}, {q3:.3f}]")
    print(f"common totals (sentinel-free): "
          f"{sum(old_q[q] for q in valid):.1f}s -> "
          f"{sum(new_q[q] for q in valid):.1f}s "
          f"(x{sum(new_q[q] for q in valid) / sum(old_q[q] for q in valid):.3f}); "
          f"median-normalized residual per query is the code signal")

    thresh = max(2.0, 2.0 * med)
    up = [(r, q) for q, r in ratios.items() if r >= thresh]
    down = [(r, q) for q, r in ratios.items()
            if r <= med / 2.0 and new_q[q] + old_q[q] > 0.5]
    if up:
        print(f"\nregression candidates (ratio >= {thresh:.2f} — real ONLY "
              "if reproduced by an isolated `graft.Bench q_name` re-run):")
        for r, q in sorted(up, reverse=True):
            print(f"  {q:32s} {old_q[q]:7.2f}s -> {new_q[q]:7.2f}s  x{r:.2f}")
    else:
        print(f"\nno regression candidates (no ratio >= {thresh:.2f}): "
              "the drift is UNIFORM — machine weather, not code")
    if down:
        print("improvements >= 2x below the median (likely real, same "
              "isolated-rerun rule):")
        for r, q in sorted(down):
            print(f"  {q:32s} {old_q[q]:7.2f}s -> {new_q[q]:7.2f}s  x{r:.2f}")

    # one quotable line for the round log (r13 verdict #4)
    def fstr(tag):
        return f"{factors[tag]:.3f}" if tag in factors else "n/a"
    print(f"\nVERDICT: factors old={fstr('OLD')} new={fstr('NEW')} | "
          f"median=x{med:.3f} "
          f"drift={'CONCENTRATED' if up else 'UNIFORM'} | "
          f"candidates={sorted(q for _, q in up)} "
          f"improvements={sorted(q for _, q in down)}")


if __name__ == "__main__":
    main()
