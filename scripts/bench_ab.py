#!/usr/bin/env python3
"""Paired A/B of the engine benchmark between two checkouts.

Usage:
  python3 scripts/bench_ab.py --parent DIR --change DIR --workload ingest \\
      --seeds 1-10,11 [--claim rows_per_s] [--raw ab.jsonl]
  python3 scripts/bench_ab.py --from-raw ab.jsonl [--claim rows_per_s]

Runs `perfbench/run.py` once per seed in each checkout, alternating which
side runs first (parent first on even pair indexes, change first on odd
ones), with `--serve-rate` taken from BENCHMARK.json's `command` and
`--seconds` from its `run_seconds`. Every raw result line is appended to
`--raw` (one JSON object per run), and `--from-raw` summarizes such a file
without running anything.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles over the pairs and the change's win count (ties count for
neither side), then a verdict read from the metric's direction and bound:
  - a claimed metric (--claim) PASSes when the change wins at least 9/10 of
    the pairs and the medians differ, in the better direction, by more than
    the parent's interquartile range;
  - every other metric is OK when the change's median is no worse than the
    parent's by more than the bound, REGRESSED when it is, and UNRESOLVED
    when the parent's own spread is wider than the bound and the change is
    worse, unless every change run beats every parent run.
Failed operations and failed correctness gates are reported per side.

Reads the checkouts' perfbench and BENCHMARK.json; writes to neither.
Dev-only tooling: the engine does not depend on this.
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
        if "-" in part:
            lo, hi = part.split("-")
            seeds += range(int(lo), int(hi) + 1)
        else:
            seeds.append(int(part))
    return seeds


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = spec["command"]
    rate = cmd[cmd.index("--serve-rate") + 1]
    return spec, rate


def run_one(checkout, spec, rate, workload, seed):
    cmd = list(spec["command"][:2]) + [
        "--serve-rate", rate, "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        result = None
    stamp = lines[-2] if len(lines) >= 2 else ""
    return {"rc": p.returncode, "stamp": stamp, "result": result}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(records, spec, claims):
    by_seed = {}
    for r in records:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [(s, d["parent"], d["change"]) for s, d in sorted(by_seed.items())
             if "parent" in d and "change" in d]
    print(f"workload {records[0]['workload']}: {len(pairs)} pairs "
          f"(seeds {', '.join(str(s) for s, _, _ in pairs)})")
    for side in ("parent", "change"):
        runs = [r for r in records if r["side"] == side]
        bad = [r for r in runs if r["result"] is None]
        ok = [r["result"] for r in runs if r["result"] is not None]
        att = sum(x["attempted"] for x in ok)
        fail = sum(x["failed"] for x in ok)
        wrong = sum(1 for x in ok if not x["correct"])
        print(f"  {side}: {len(runs)} runs, {len(bad)} without a result, "
              f"failed ops {fail}/{att}, runs with a failed gate {wrong}")
    pairs = [(s, p, c) for s, p, c in pairs
             if p["result"] is not None and c["result"] is not None]
    if not pairs:
        print("no complete pairs")
        return False
    n = len(pairs)
    hdr = (f"  {'metric':<22}{'parent median [q1, q3]':>34}"
           f"{'change median [q1, q3]':>34}{'wins':>8}  verdict")
    print(hdr)
    all_ok = True
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        pv = [p["result"]["metrics"][name]["value"] for _, p, _ in pairs]
        cv = [c["result"]["metrics"][name]["value"] for _, _, c in pairs]
        sign = 1.0 if higher else -1.0
        wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) > 0)
        pq1, pmed, pq3 = quartiles(pv)
        cq1, cmed, cq3 = quartiles(cv)
        gain = sign * (cmed - pmed)  # > 0 means the change is better
        base = abs(pmed) if pmed != 0 else 1.0
        if name in claims:
            ok = wins * 10 >= 9 * n and gain > (pq3 - pq1)
            verdict = ("PASS" if ok else "FAIL") + \
                f" (claim: gap {gain:+.4g} vs parent IQR {pq3 - pq1:.4g})"
        else:
            worse = -gain / base
            spread = (pq3 - pq1) / base
            all_better = min(sign * x for x in cv) > max(sign * x for x in pv)
            if worse > m["bound"]:
                ok, verdict = False, f"REGRESSED ({worse:+.1%} worse, bound {m['bound']:.0%})"
            elif worse > 0 and spread > m["bound"] and not all_better:
                ok, verdict = False, f"UNRESOLVED (parent spread {spread:.1%} > bound)"
            else:
                ok, verdict = True, f"OK ({-worse:+.1%}, bound {m['bound']:.0%})"
        all_ok &= ok
        print(f"  {name:<22}{f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':>34}"
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':>34}{f'{wins}/{n}':>8}  {verdict}")
    return all_ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", choices=("serve", "ingest"))
    ap.add_argument("--seeds", help="e.g. 1-10,11")
    ap.add_argument("--claim", action="append", default=[],
                    help="end-to-end metric the change claims to improve (repeatable)")
    ap.add_argument("--raw", help="append each run's raw result here (JSON lines)")
    ap.add_argument("--from-raw", help="summarize a --raw file instead of running")
    a = ap.parse_args()

    if a.from_raw:
        with open(a.from_raw) as fh:
            records = [json.loads(l) for l in fh if l.strip()]
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec, _ = bench_spec(root)
        for wl in sorted({r["workload"] for r in records}):
            summarize([r for r in records if r["workload"] == wl], spec, a.claim)
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    spec, rate = bench_spec(a.change)
    if bench_spec(a.parent) != (spec, rate):
        sys.exit("the two checkouts' BENCHMARK.json differ; an A/B needs one benchmark")
    records = []
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            rec = run_one(getattr(a, side), spec, rate, a.workload, seed)
            rec.update(side=side, seed=seed, workload=a.workload, first=order[0])
            records.append(rec)
            val = (rec["result"] or {}).get("metrics", {})
            brief = ", ".join(f"{m['name']}={val[m['name']]['value']:.4g}"
                              for m in spec["end_to_end"] if m["name"] in val)
            print(f"seed {seed} {side}: rc={rec['rc']} {brief}", file=sys.stderr, flush=True)
            if a.raw:
                with open(a.raw, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
    ok = summarize(records, spec, a.claim)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
