#!/usr/bin/env python3
"""A/B pairs of graftbench runs: two checkouts, one workload, alternating order.

    python3 tools/ab_pairs.py --base ../parent --change . \\
        --workload taxi_many_files --seeds 8101-8106 [--seconds 12] [--out pairs.jsonl]

For each seed it runs `graftbench/run.py --trace 0` once in each checkout
(the base first on even-numbered pairs, the change first on odd ones),
so drift of a shared machine falls on both sides alike. It then prints,
per end-to-end metric declared in the change's BENCHMARK.json, the
median and quartiles of each side, the relative change of the medians,
and in how many pairs the change was better. A run whose `correct` is
false stops the comparison: a wrong answer has no speed.

Each checkout's path must hold no taxi type word and no `YYYY-M` run
(run.py refuses such paths); export one with
`git archive <sha> | tar -x -C <dir>`. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def run_once(checkout, workload, seed, seconds):
    """The metrics of one run, or an exit when it fails or is incorrect."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run failed in {checkout} (seed {seed}, exit {p.returncode})")
    last = json.loads(lines[-1])
    if not last.get("correct"):
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run in {checkout} (seed {seed}) is not correct; "
                         "refusing to compare")
    return {k: v["value"] for k, v in last["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, declared):
    rows = []
    for m in declared:
        name, lower = m["name"], m["better"] == "lower"
        got = [(a[name], b[name]) for a, b in pairs if name in a and name in b]
        if not got:
            continue
        base = [a for a, _ in got]
        change = [b for _, b in got]
        better = sum(1 for a, b in got if (b < a if lower else b > a))
        mb, mc = statistics.median(base), statistics.median(change)
        rows.append({
            "metric": name, "better": m["better"], "bound": m.get("bound"),
            "base_median": mb, "base_q1_q3": quartiles(base),
            "change_median": mc, "change_q1_q3": quartiles(change),
            "rel_change": (mc - mb) / mb if mb else None,
            "change_better_pairs": better, "pairs": len(got)})
    return rows


def fmt(x):
    return f"{x:,.0f}" if abs(x) >= 1e4 else f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 8101-8106 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--out", help="append each pair's metrics here as JSON lines")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["end_to_end"]
    pairs = []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = [("base", a.base), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, a.workload, seed, a.seconds)
            print(f"ab_pairs: seed {seed} {side} done", file=sys.stderr, flush=True)
        pairs.append((got["base"], got["change"]))
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed,
                                     "first": order[0][0], **got}) + "\n")

    rows = summarize(pairs, declared)
    print(f"{a.workload}: {len(pairs)} pairs (base {a.base} vs change {a.change})")
    print(f"{'metric':16} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'rel':>8} {'better':>7}")
    for r in rows:
        b, c = r["base_q1_q3"], r["change_q1_q3"]
        rel = f"{100 * r['rel_change']:+.1f}%" if r["rel_change"] is not None else "n/a"
        print(f"{r['metric']:16} {fmt(r['base_median']):>10} [{fmt(b[0])}, {fmt(b[1])}]"
              f"{'':>4} {fmt(r['change_median']):>10} [{fmt(c[0])}, {fmt(c[1])}]"
              f"{'':>4} {rel:>8} {r['change_better_pairs']:>3}/{r['pairs']}")
    print(json.dumps({"workload": a.workload, "summary": rows}))


if __name__ == "__main__":
    main()
