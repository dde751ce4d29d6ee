#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    python3 perfbench/compare.py collect --workload W --seeds 1-10 --out DIR [--trace 1]
    python3 perfbench/compare.py sets DIR_A DIR_B
    python3 perfbench/compare.py ab --a CHECKOUT_A --b CHECKOUT_B --workload W \
        --pairs 10 --out DIR

`collect` runs run.py once per seed from this checkout, for the run length
BENCHMARK.json sets, and keeps each run record in DIR. `sets` prints, for
every workload x end-to-end metric row, each set's median and quartiles,
the spread (interquartile distance over the median) and whether the rows
agree within the bound BENCHMARK.json fixes: both spreads within the bound
and B's median no worse than A's by more than the bound. It exits 1 when
a bounded row does not agree. Metrics the benchmark reports but does not
bound are shown with "no bound".

`ab` runs alternating pairs of two checkouts (A = parent, B = change), the
order flipping every pair and both sides of pair i on seed 1000 + i, then
applies the win rule: B claims a gain on a metric only if it wins at least
nine tenths of all pairs (ties count for neither) and the medians differ
by more than A's own interquartile distance.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# directions of the metrics run.py prints beyond the bounded ones
UNBOUNDED = {"write_p50_ms": "lower", "write_tail_ms": "lower",
             "rows_committed_per_s": "higher", "failed_ratio": "lower"}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_set(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def metric_rows():
    rows = [(m["name"], m["better"], m["bound"]) for m in spec()["end_to_end"]]
    return rows + [(k, d, None) for k, d in UNBOUNDED.items()]


def worse_by(a_med, b_med, better):
    """How much worse B's median is than A's, as a share of A's."""
    if not a_med:
        return 0.0
    d = (b_med - a_med) / a_med
    return d if better == "lower" else -d


def cmd_sets(a_dir, b_dir):
    a, b = load_set(a_dir), load_set(b_dir)
    ok = True
    print(f"{'workload':15s} {'metric':22s} {'set':3s} {'n':>3s} {'q1':>11s} "
          f"{'median':>11s} {'q3':>11s} {'spread':>7s}  verdict")
    for w in sorted({r["workload"] for r in a + b}):
        for name, better, bound in metric_rows():
            va = [r["end_to_end"][name] for r in a if r["workload"] == w
                  and r["end_to_end"].get(name) is not None]
            vb = [r["end_to_end"][name] for r in b if r["workload"] == w
                  and r["end_to_end"].get(name) is not None]
            if not va or not vb:
                continue
            sa, sb = spread(va), spread(vb)
            wb = worse_by(statistics.median(va), statistics.median(vb), better)
            if bound is None:
                verdict = f"no bound (B {wb:+.1%} worse)"
            else:
                fails = []
                if sa > bound or sb > bound:
                    fails.append(f"spread > {bound}")
                if wb > bound:
                    fails.append(f"B median {wb:+.1%} worse > {bound}")
                verdict = "agree" if not fails else "DISAGREE: " + "; ".join(fails)
                ok &= not fails
            for tag, xs, sp in (("A", va, sa), ("B", vb, sb)):
                q1, med, q3 = quartiles(xs)
                print(f"{w:15s} {name:22s} {tag:3s} {len(xs):3d} {q1:11.4f} {med:11.4f} "
                      f"{q3:11.4f} {sp:7.3f}  {verdict if tag == 'B' else ''}")
    return 0 if ok else 1


def run_one(root, workload, seed, trace, out_dir):
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(spec()["run_seconds"]),
         "--trace", str(trace), "--results-dir", out_dir],
        cwd=root, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    print(f"[compare] {os.path.basename(os.path.abspath(root))} {workload} seed {seed} "
          f"rc={p.returncode} {last[:160]}", flush=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
    return p.returncode


def parse_seeds(s):
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def cmd_collect(a):
    rc = 0
    for seed in parse_seeds(a.seeds):
        rc |= run_one(ROOT, a.workload, seed, a.trace, a.out)
    return rc


def cmd_ab(a):
    da, db = os.path.join(a.out, "a"), os.path.join(a.out, "b")
    wins = {}
    for i in range(a.pairs):
        seed = 1000 + i
        order = [("a", a.a, da), ("b", a.b, db)]
        if i % 2:
            order.reverse()
        got = {}
        for tag, root, d in order:
            tmp = tempfile.mkdtemp(dir=a.out)
            if run_one(root, a.workload, seed, 0, tmp) != 0:
                return 1
            (p,) = glob.glob(os.path.join(tmp, "*.json"))
            os.makedirs(d, exist_ok=True)
            shutil.move(p, os.path.join(d, os.path.basename(p)))
            os.rmdir(tmp)
            with open(os.path.join(d, os.path.basename(p))) as f:
                got[tag] = json.load(f)["end_to_end"]
        for name, better, _ in metric_rows():
            x, y = got["a"].get(name), got["b"].get(name)
            if x is None or y is None or x == y:
                continue
            if (y < x) == (better == "lower"):
                wins[name] = wins.get(name, 0) + 1
    a_recs, b_recs = load_set(da), load_set(db)
    print(f"{'metric':22s} {'A median':>11s} {'B median':>11s} {'A iqr':>9s} "
          f"{'B wins':>7s}  claim")
    for name, better, _ in metric_rows():
        va = [r["end_to_end"][name] for r in a_recs if r["end_to_end"].get(name) is not None]
        vb = [r["end_to_end"][name] for r in b_recs if r["end_to_end"].get(name) is not None]
        if not va or not vb:
            continue
        q1, ma, q3 = quartiles(va)
        mb = statistics.median(vb)
        w = wins.get(name, 0)
        gain = w >= 0.9 * a.pairs and abs(mb - ma) > (q3 - q1) and worse_by(ma, mb, better) < 0
        print(f"{name:22s} {ma:11.4f} {mb:11.4f} {q3 - q1:9.4f} {w:3d}/{a.pairs:<3d}  "
              f"{'B gains' if gain else 'no claim'}")
    return 0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    c.add_argument("--out", required=True)
    c.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("sets")
    s.add_argument("a")
    s.add_argument("b")
    x = sub.add_parser("ab")
    x.add_argument("--a", required=True, help="checkout root of the parent")
    x.add_argument("--b", required=True, help="checkout root of the change")
    x.add_argument("--workload", required=True)
    x.add_argument("--pairs", type=int, default=10)
    x.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.cmd == "collect":
        return cmd_collect(a)
    if a.cmd == "sets":
        return cmd_sets(a.a, a.b)
    os.makedirs(a.out, exist_ok=True)
    return cmd_ab(a)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
