#!/usr/bin/env python3
"""Run one workload of the lake benchmark and print its metrics.

    python3 perfbench/run.py --workload dca_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the harness (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Each run works in its own
scratch directory under .bench_build/ (warehouse, checkpoints, tables,
Spark temp) and removes it at exit.

Every operation's result is checked: the ingest workloads against the
harness's model of the table, lake_analytics against each key's DuckDB
oracle. A failed operation enters the latency percentiles as an infinite
latency. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics with --trace 1. The full
record of the run is kept under .bench_build/results/ (and the span dump of
a traced run under .bench_build/traces/) for compare.py and spans.py.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("dca_ingest", "mor_serve", "lake_analytics", "selftest")
CPUS = max(1, min(4, len(os.sched_getaffinity(0))))
JVM_TIMEOUT_S = 165
LAKE_SF = 0.001

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise RunError(f"no engine sources at {ROOT} (build.sbt, src/main/scala)")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        raise RunError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "sbt.repository.config" not in opts[0]:
        opts.append(f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    print("[perfbench] building engine and harness (sbt)", file=sys.stderr, flush=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise RunError(f"sbt build failed with exit code {p.returncode}")
    lines = [l for l in p.stdout.splitlines()
             if l.startswith("/") and "scala-2.13/classes" in l]
    if not lines:
        raise RunError("sbt did not print the harness classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def run_jvm(cp, args, work, data, record):
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", data, "--out", record, "--cpus", str(CPUS)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.isfile(record):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise RunError("the benchmark JVM timed out" if rc is None
                       else f"the benchmark JVM exited with code {rc}")
    with open(record) as f:
        return json.load(f)


def check_lake(rec, work, data):
    """Compare every pending analytics output with its DuckDB oracle."""
    import oracle
    dumps = os.path.join(work, "dumps")
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        sqls = json.load(f)
    verdict = oracle.check_all(data, dumps, sqls,
                               {op["check"] for op in rec["ops"] if op["ok"] is None})
    for op in rec["ops"]:
        if op["ok"] is None:
            ok, msg = verdict[op["check"]]
            op["ok"] = ok
            if not ok:
                op["note"] = msg


def pctl_tail(values):
    """Highest nearest-rank percentile with at least 10 samples above it."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None, n
    r = n - 10
    return v[r - 1], 100.0 * r / n, n


def finite(x):
    return None if x is None or math.isinf(x) or math.isnan(x) else x


def end_to_end(rec):
    ops = rec["ops"]
    lat = lambda kind: [o["ms"] if o["ok"] else math.inf for o in ops if o["kind"] == kind]
    m, notes = {}, {}
    for kind in ("write", "read"):
        xs = lat(kind)
        if not xs:
            continue
        m[f"{kind}_p50_ms"] = finite(statistics.median(xs))
        tail, pct, n = pctl_tail(xs)
        m[f"{kind}_tail_ms"] = finite(tail)
        notes[f"{kind}_tail_ms"] = (f"p{pct:.1f} of n={n}" if pct is not None
                                    else f"undefined: n={n} < 11")
        notes[f"{kind}_p50_ms"] = f"n={n}"
    timed = rec["timed_s"]
    good = sum(1 for o in ops if o["ok"])
    failed = len(ops) - good
    if any(o["kind"] == "write" for o in ops):
        m["rows_committed_per_s"] = rec["rows_committed"] / timed
        notes["rows_committed_per_s"] = f"{rec['rows_committed']} rows in {timed:.2f} s"
    m["ops_per_s"] = good / timed
    notes["ops_per_s"] = f"{good} correct ops in {timed:.2f} s"
    m["failed_ratio"] = failed / len(ops) if ops else None
    notes["failed_ratio"] = f"{failed} of {len(ops)} ops"
    m["setup_s"] = rec["setup_s"]
    notes["setup_s"] = ("session " + f"{rec['session_s']:.2f} s + median of set-ups "
                        + ", ".join(f"{s:.2f}" for s in rec["setup_reps_s"])
                        + f" + warm-up {rec['warmup_s']:.2f} s")
    m["heap_live_mb_end"] = rec["heap_live_mb_end"]
    return m, notes, good, failed


# metrics that are a level at the end of the run rather than a sum
GAUGES = {"merge.live_files", "merge.live_delta_files",
          "merge.table_bytes_per_row", "spark.cached_mb"}


def per_layer(rec, names):
    ops = rec["ops"]
    out = {}
    for name in names:
        base = name[:-4] if name.endswith(".run") else name
        vals = [o["m"][base] for o in ops if base in o["m"]]
        if not name.endswith(".run"):
            out[name] = statistics.median(vals) if vals else 0.0
        elif base in rec["run_layers"]:
            out[name] = rec["run_layers"][base]
        elif base == "merge.bytes_written_per_input_byte":
            wrote = sum(o["m"].get("fs.bytes_written", 0.0) for o in ops
                        if o["kind"] in ("write", "compact"))
            inb = sum(o["m"].get("load.json_bytes_in", 0.0) for o in ops)
            out[name] = wrote / inb if inb else 0.0
        elif base in GAUGES:
            out[name] = vals[-1] if vals else 0.0
        else:
            out[name] = float(sum(vals))
    return out


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None):
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results-dir", default=os.path.join(BUILD, "results"),
                    help="where to keep the run record (default .bench_build/results)")
    args = ap.parse_args(argv)

    try:
        spec = load_spec()
        cp = build()
    except (RunError, OSError, ValueError, subprocess.SubprocessError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 2

    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    phases = []
    try:
        data = os.path.join(work, "data")
        t = time.monotonic()
        if args.workload == "lake_analytics":
            import gen_tables
            gen_tables.write(data, LAKE_SF, args.seed)
        phases.append(("inputs", time.monotonic() - t))
        t = time.monotonic()
        rec = run_jvm(cp, args, work, data, os.path.join(work, "record.json"))
        phases.append(("jvm", time.monotonic() - t))
        if args.workload == "selftest":
            for k, v in rec["selftest"].items():
                print(f"[perfbench] selftest {'ok  ' if v else 'FAIL'} {k}")
            return 0 if all(rec["selftest"].values()) else 1
        t = time.monotonic()
        if args.workload == "lake_analytics":
            check_lake(rec, work, data)
        phases.append(("oracle", time.monotonic() - t))
        print("[perfbench] phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases)
              + f"; in the JVM: session {rec['session_s']:.1f} s, set-ups "
              + "+".join(f"{s:.1f}" for s in rec["setup_reps_s"])
              + f" s, warm-up {rec['warmup_s']:.1f} s, loop {rec['wall_s']:.1f} s, after the loop {rec['post_s']:.1f} s",
              file=sys.stderr)
        e2e, notes, good, failed = end_to_end(rec)
        rec["end_to_end"] = e2e
        layer_names = [m["name"] for m in spec["per_layer"]]
        if args.trace:
            rec["per_layer"] = per_layer(rec, layer_names)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            trace_path = os.path.join(
                BUILD, "traces", f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), trace_path)
            import spans
            print(spans.summary(spans.load(trace_path), args.workload))
            print(f"[perfbench] span dump: {os.path.relpath(trace_path, ROOT)}")
        res_dir = args.results_dir
        os.makedirs(res_dir, exist_ok=True)
        with open(os.path.join(res_dir, f"{args.workload}-t{args.trace}-s{args.seed}-"
                               f"{os.getpid()}.json"), "w") as f:
            json.dump(rec, f)
    except RunError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update({"write_p50_ms": "ms", "write_tail_ms": "ms",
                  "rows_committed_per_s": "rows/s", "failed_ratio": "ratio"})
    for k, v in e2e.items():
        shown = "n/a (failed ops)" if v is None else f"{v:.6g}"
        print(f"[perfbench] {args.workload} {k} = {shown} {units.get(k, '')}"
              f"  ({notes.get(k, '')})")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"[perfbench] failed op {o['id']} {o['kind']} {o['check']}: {o['note']}")

    if args.trace:
        chosen = {k: (rec["per_layer"][k], u) for k, u in
                  ((m["name"], m["unit"]) for m in spec["per_layer"])}
    else:
        # a workload outside BENCHMARK.json (mor_serve while its reads fail)
        # prints null where failed operations leave a percentile undefined
        gated = args.workload in {w["name"] for w in spec["workloads"]}
        chosen = {}
        for m in spec["end_to_end"]:
            v = e2e.get(m["name"])
            if v is None and gated:
                print(f"[perfbench] error: {m['name']} has no value on {args.workload}",
                      file=sys.stderr)
                return 1
            chosen[m["name"]] = (v, m["unit"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(rec["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
