#!/usr/bin/env python3
"""Repeat benchmark runs and compare two sets of them.

    # N seeds per workload from one checkout, one JSON record per run
    python3 perfbench/compare.py runs --workloads ingest,history --seeds 1-10 \
        --out runs.jsonl [--trace 0] [--root .]

    # run-to-run spread of every end-to-end metric (IQR as a share of the
    # median), flagged against a third of the metric's bound
    python3 perfbench/compare.py spread runs.jsonl

    # parent vs change: pairs on seeds 1..n (n >= 10), alternating which
    # side runs first
    python3 perfbench/compare.py pairs --parent DIR --change DIR \
        --workloads ingest --n 10 --out-dir OUT
    python3 perfbench/compare.py compare OUT/parent.jsonl OUT/change.jsonl

Runs are paired by workload and seed. A run that failed (no record, or
`correct` false) loses its pair on every metric. A metric improved only
when the change wins at least 9 in 10 of all pairs (ties count for
neither side), the medians of the correct runs differ by more than the
parent's own interquartile spread, and the change failed no more
operations than the parent (a gain with more failures is reported as
not improved); it regressed when the change's median is
worse than the parent's by more than the metric's bound; it is unresolved
when the parent's spread is wider than the bound, unless every change run
reads better than every parent run; otherwise unchanged. One row per
workload and metric.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

# the fewest parent/change pairs a gain may rest on
MIN_PAIRS = 10


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_one(root, workload, seed, trace, out):
    s = spec(root)
    cmd = s["command"] + ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(s["run_seconds"]), "--trace", str(trace),
                          "--record", os.path.abspath(out)]
    before = count_lines(out)
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    print(f"{os.path.basename(os.path.abspath(root))} {workload} seed={seed} exit={proc.returncode} {last[:160]}",
          flush=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    if count_lines(out) == before:
        # a run that could not finish still takes its place as a failed run
        with open(out, "a") as f:
            f.write(json.dumps({"env": {"workload": workload, "seed": seed, "exit": proc.returncode},
                                "result": {"correct": False, "attempted": 0, "failed": 0,
                                           "metrics": {}}}) + "\n")
    return proc.returncode


def count_lines(path):
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return sum(1 for _ in f)


def load(path):
    by = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            by.setdefault(r["env"]["workload"], []).append(r)
    return by


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def value(record, name):
    """The metric of a correct run, else None."""
    m = record["result"]["metrics"].get(name)
    return m["value"] if record["result"]["correct"] and m else None


def values(records, name):
    return [v for v in (value(r, name) for r in records) if v is not None]


def cmd_spread(a):
    s = spec(a.root)
    ok = True
    for wl, recs in sorted(load(a.file).items()):
        print(f"{wl}: {len(recs)} runs, wall {statistics.median(r['env'].get('run_wall_s', 0) for r in recs):.1f} s median")
        for m in s["end_to_end"]:
            xs = values(recs, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("inf")
            flag = "" if rel < m["bound"] / 3 else "  <-- above bound/3"
            ok = ok and not flag
            print(f"  {m['name']:20} median {med:12.5g} {m['unit']:6} IQR/median {rel:6.3f}"
                  f" (bound {m['bound']}){flag}")
    return 0 if ok else 1


def cmd_runs(a):
    rc = 0
    for seed in seeds(a.seeds):
        for wl in a.workloads.split(","):
            rc |= run_one(a.root, wl, seed, a.trace, a.out)
    return rc


def cmd_pairs(a):
    os.makedirs(a.out_dir, exist_ok=True)
    rc = 0
    sides = [("parent", a.parent), ("change", a.change)]
    for seed in range(1, a.n + 1):
        for wl in a.workloads.split(","):
            for name, root in (sides if seed % 2 else sides[::-1]):
                rc |= run_one(root, wl, seed, 0, os.path.join(a.out_dir, f"{name}.jsonl"))
    return rc


def cmd_compare(a):
    s = spec(a.root)
    parent, change = load(a.parent), load(a.change)
    print(f"{'workload':10} {'metric':20} {'parent median [q1,q3]':34} {'change median [q1,q3]':34} wins verdict")
    for wl in sorted(set(parent) & set(change)):
        by_seed = lambda recs: {r["env"]["seed"]: r for r in recs}
        p_runs, c_runs = by_seed(parent[wl]), by_seed(change[wl])
        pairs = [(p_runs[k], c_runs[k]) for k in sorted(set(p_runs) & set(c_runs))]
        failed = lambda recs: sum(r["result"]["failed"] + (not r["result"]["correct"]) for r in recs)
        p_failed, c_failed = failed(x for x, _ in pairs), failed(y for _, y in pairs)
        print(f"{wl}: {len(pairs)} pairs; failed (operations + failed runs): "
              f"parent {p_failed}, change {c_failed}")
        for m in s["end_to_end"]:
            p = values([x for x, _ in pairs], m["name"])
            c = values([y for _, y in pairs], m["name"])
            lower = m["better"] == "lower"
            better = lambda x, y: y < x if lower else y > x  # change y better than parent x
            # a failed change run loses its pair, a failed parent run wins it
            wins = sum(1 for x, y in pairs if value(y, m["name"]) is not None and
                       (value(x, m["name"]) is None or better(value(x, m["name"]), value(y, m["name"]))))
            if not p or not c:
                print(f"{wl:10} {m['name']:20} {'-':34} {'-':34} {wins}/{len(pairs)} unresolved")
                continue
            pq, cq = quartiles(p), quartiles(c)
            diff = cq[1] - pq[1]
            worse = diff / pq[1] if lower else -diff / pq[1]
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            # every change run reads better than every parent run
            separated = better(min(p), max(c)) if lower else better(max(p), min(c))
            gain = (len(pairs) >= MIN_PAIRS and wins >= 0.9 * len(pairs)
                    and abs(diff) > pq[2] - pq[0] and worse < 0)
            if gain and c_failed > p_failed:
                verdict = "not-improved(more-failed)"
            elif gain:
                verdict = "improved"
            elif worse > m["bound"]:
                verdict = "regressed"
            elif spread > m["bound"] and not separated:
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            fmt = lambda q: f"{q[1]:.5g} [{q[0]:.5g},{q[2]:.5g}]"
            print(f"{wl:10} {m['name']:20} {fmt(pq):34} {fmt(cq):34} {wins}/{len(pairs)} {verdict}")
    return 0


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--root", default=".")
    sp = sub.add_parser("spread")
    sp.add_argument("file")
    sp.add_argument("--root", default=".")
    pr = sub.add_parser("pairs")
    pr.add_argument("--parent", required=True)
    pr.add_argument("--change", required=True)
    pr.add_argument("--workloads", required=True)
    pr.add_argument("--n", type=int, default=MIN_PAIRS)
    pr.add_argument("--out-dir", required=True)
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    c.add_argument("--root", default=".")
    a = ap.parse_args()
    if a.cmd == "pairs" and a.n < MIN_PAIRS:
        ap.error(f"pairs needs --n of at least {MIN_PAIRS}")
    return {"runs": cmd_runs, "spread": cmd_spread, "pairs": cmd_pairs, "compare": cmd_compare}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
