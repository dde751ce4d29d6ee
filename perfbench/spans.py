#!/usr/bin/env python3
"""Per-layer summary of a traced run's span dump, and tracing overhead.

A span dump (.bench_build/traces/*.jsonl) holds one span per line: the
operation root (`op.<kind>`), each layer call inside it (`streaming.*`,
`load.*`, `merge.*`, `sql.*`, `analytics.*`), streaming batch phases built
from the query progress, and every Spark job (`spark.job`). For each layer
the summary gives the span count, total time, self time (span minus the
part its children cover, as the harness writes it) and waiting time (time
spent in children: lower layers and Spark jobs).

    python3 perfbench/spans.py summary <dump.jsonl>...
    python3 perfbench/spans.py overhead <results-dir> [workload]

`overhead` compares the end-to-end medians of the traced and untraced
run records of each workload under <results-dir>.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summary(spans, title=""):
    by_layer, by_name = {}, {}
    for s in spans:
        total, own = (s["end_ns"] - s["start_ns"]) / 1e6, s["self_ns"] / 1e6
        layer = s["name"].split(".")[0]
        for key, acc in ((layer, by_layer), (s["name"], by_name)):
            a = acc.setdefault(key, [0, 0.0, 0.0])
            a[0] += 1
            a[1] += total
            a[2] += own
    lines = [f"per-layer summary {title}".rstrip(),
             f"{'layer / span':32s} {'count':>7s} {'total_ms':>11s} {'self_ms':>11s} {'waiting_ms':>11s}"]
    for acc, indent in ((by_layer, ""), (by_name, "  ")):
        for k in sorted(acc):
            n, total, own = acc[k]
            lines.append(f"{indent + k:32s} {n:7d} {total:11.1f} {own:11.1f} {total - own:11.1f}")
        lines.append("")
    return "\n".join(lines).rstrip()


def overhead(results_dir, workload=None):
    recs = []
    for p in glob.glob(os.path.join(results_dir, "*.json")):
        with open(p) as f:
            recs.append(json.load(f))
    lines = []
    for w in sorted({r["workload"] for r in recs}):
        if workload and w != workload:
            continue
        sets = {t: [r["end_to_end"] for r in recs if r["workload"] == w and r["trace"] == t]
                for t in (0, 1)}
        if not sets[0] or not sets[1]:
            lines.append(f"{w}: needs both traced and untraced runs")
            continue
        lines.append(f"{w}: tracing overhead, traced minus untraced median "
                     f"({len(sets[1])} traced, {len(sets[0])} untraced runs)")
        for k in sorted(sets[0][0]):
            a = [m[k] for m in sets[0] if m.get(k) is not None]
            b = [m[k] for m in sets[1] if m.get(k) is not None]
            if a and b:
                ma, mb = statistics.median(a), statistics.median(b)
                rel = f"{(mb - ma) / ma * 100:+.1f}%" if ma else ""
                lines.append(f"  {k:24s} untraced {ma:12.4f}  traced {mb:12.4f}  "
                             f"diff {mb - ma:+12.4f} {rel}")
    return "\n".join(lines)


def main(argv):
    if len(argv) >= 2 and argv[0] == "summary":
        for p in argv[1:]:
            print(summary(load(p), os.path.basename(p)))
        return 0
    if len(argv) >= 2 and argv[0] == "overhead":
        print(overhead(argv[1], argv[2] if len(argv) > 2 else None))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
