#!/usr/bin/env python3
"""Paired A/B runs of the seeded benchmark: parent checkout against change.

    python3 tools/bench_pairs.py --parent ../parent-checkout --seeds 601-610

For every workload and seed it runs `python3 perfbench/run.py` once in each
checkout, alternating which goes first (parent first on the 1st, 3rd, ...
pair), so slow drift of the host's speed lands on both sides. For each
end-to-end metric that BENCHMARK.json declares it prints the parent's and
the change's median and quartiles, the number of pairs the change won, and
the median difference against the parent's interquartile range. With
--trace-seed, one traced run per side and workload is added and its
per-layer metrics are recorded next to the pairs. The summary goes to
data/bench_runs/ (or --out) as JSON; nothing under perfbench/ is touched.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

SIDES = ("parent", "change")


def seed_list(spec):
    """'601-610' or '601,605,612' -> [601, ...]"""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`; its JSON result, or an error record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "error": proc.stderr.strip().splitlines()[-5:]}
    res["exit"] = proc.returncode
    res["wall_s"] = round(time.monotonic() - t0, 1)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [q1, q2, q3]


def summarize(pairs, metric):
    """Per-metric summary over the pairs where both sides produced the metric."""
    name, higher = metric["name"], metric["better"] == "higher"
    ok = [p for p in pairs if all(name in p[s].get("metrics", {}) for s in SIDES)]
    vals = {s: [p[s]["metrics"][name]["value"] for p in ok] for s in SIDES}
    if not ok:
        return {"pairs": 0}
    wins = sum((c > a) if higher else (c < a) for a, c in zip(vals["parent"], vals["change"]))
    qp, qc = quartiles(vals["parent"]), quartiles(vals["change"])
    return {
        "pairs": len(ok), "parent": vals["parent"], "change": vals["change"],
        "parent_q1_med_q3": qp, "change_q1_med_q3": qc, "change_wins": wins,
        "median_ratio": qc[1] / qp[1] if qp[1] else None,
        "median_diff": qc[1] - qp[1], "parent_iqr": qp[2] - qp[0],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change (default: here)")
    ap.add_argument("--seeds", required=True, help="e.g. 601-610: one pair per seed and workload")
    ap.add_argument("--workloads", help="comma-separated; default: every BENCHMARK.json workload")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace-seed", type=int, help="also run one traced run per side at this seed")
    ap.add_argument("--out", help="summary path (default: data/bench_runs/pairs-<time>.json)")
    ap.add_argument("--note", default="", help="what is being compared, kept in the summary")
    a = ap.parse_args()

    checkouts = {"parent": Path(a.parent).resolve(), "change": Path(a.change).resolve()}
    bench = json.loads((checkouts["change"] / "BENCHMARK.json").read_text())
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seeds = seed_list(a.seeds)
    summary = {
        "what": a.note, "checkouts": {s: p.name for s, p in checkouts.items()},
        "command": f"python3 perfbench/run.py --workload W --seed N --seconds {a.seconds:g} --trace 0",
        "seeds": seeds, "order": "parent first on the 1st, 3rd, ... pair of each workload",
        "workloads": {},
    }
    for w in workloads:
        pairs = []
        for i, seed in enumerate(seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(checkouts[side], w, seed, a.seconds, 0)
            pairs.append(pair)
            print(f"{w} seed {seed}: " + "  ".join(
                f"{s} {pair[s].get('metrics', {}).get('turns_per_s', {}).get('value', float('nan')):,.0f}"
                for s in SIDES), flush=True)
        entry = {
            "runs": pairs,
            "failed_attempted": {s: [sum(p[s].get("failed", 0) for p in pairs),
                                     sum(p[s].get("attempted", 0) for p in pairs)] for s in SIDES},
            "metrics": {m["name"]: summarize(pairs, m) for m in bench["end_to_end"]},
        }
        if a.trace_seed is not None:
            entry["traced"] = {"seed": a.trace_seed, **{
                s: run(checkouts[s], w, a.trace_seed, a.seconds, 1) for s in SIDES}}
        summary["workloads"][w] = entry

    out = Path(a.out) if a.out else Path("data/bench_runs") / f"pairs-{time.strftime('%Y%m%d-%H%M%S')}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(summary, indent=1) + "\n")

    print(f"\n{'workload':14} {'metric':18} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} "
          f"{'wins':>6} {'ratio':>7} {'diff/IQR':>9}")
    for w, entry in summary["workloads"].items():
        for name, m in entry["metrics"].items():
            if not m["pairs"]:
                print(f"{w:14} {name:18} no complete pairs")
                continue
            fmt = lambda q: "/".join(f"{v:,.4g}" for v in q)  # noqa: E731
            rel = abs(m["median_diff"]) / m["parent_iqr"] if m["parent_iqr"] else float("inf")
            print(f"{w:14} {name:18} {fmt(m['parent_q1_med_q3']):>32} {fmt(m['change_q1_med_q3']):>32} "
                  f"{m['change_wins']:>3}/{m['pairs']:<2} {m['median_ratio']:>7.3f} {rel:>9.2f}")
        fa = entry["failed_attempted"]
        print(f"{w:14} failed/attempted  parent {fa['parent'][0]}/{fa['parent'][1]}"
              f"  change {fa['change'][0]}/{fa['change'][1]}")
    print(f"\nsummary: {out}")


if __name__ == "__main__":
    main()
