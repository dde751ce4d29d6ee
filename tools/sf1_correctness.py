#!/usr/bin/env python3
"""Assemble CORRECTNESS_sf1.json: the recorded correctness-at-scale
artifact (answers, not wall-times, at the 10x scale where AQE/spill
behavior changes — the round-9 verdict's top gap).

Runs tools/check.py (the driver-mimic DuckDB compare) over a Verify
dump produced from sf1data and records per-key pass/fail plus
provenance. Usage:

  sbt -batch "runMain graft.Verify /root/repo/sf1data /tmp/v_sf1 <keys>"
  python3 tools/sf1_correctness.py /root/repo/sf1data /tmp/v_sf1 <keys>
"""
import datetime
import json
import re
import subprocess
import sys


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sf_dir, out_dir, keys = sys.argv[1], sys.argv[2], sys.argv[3]
    proc = subprocess.run(
        [sys.executable, "tools/check.py", sf_dir, out_dir, keys],
        capture_output=True, text=True)
    results = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"ok\s+(\S+): (\d+) rows", line)
        if m:
            results[m.group(1)] = {"pass": True, "rows": int(m.group(2))}
            continue
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            results[m.group(1)] = {"pass": False, "error": m.group(2)}
    sha = subprocess.run(["git", "rev-parse", "HEAD"],
                         capture_output=True, text=True).stdout.strip()[:12]
    # the stamp names HEAD; "dirty" says whether the engine sources the
    # Verify dump came from differ from it
    dirty = bool(subprocess.run(
        ["git", "status", "--porcelain", "--", "src", "build.sbt"],
        capture_output=True, text=True).stdout.strip())
    artifact = {
        "sf_dir": sf_dir,
        "sha": sha,
        "dirty": dirty,
        "generated_at": datetime.datetime.now(
            datetime.timezone.utc).isoformat(),
        "n_keys": len(results),
        "n_pass": sum(1 for r in results.values() if r["pass"]),
        "results": results,
    }
    with open("CORRECTNESS_sf1.json", "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"CORRECTNESS_sf1.json: {artifact['n_pass']}/"
          f"{artifact['n_keys']} pass at {sf_dir} (sha {sha}, "
          f"dirty {str(dirty).lower()})")
    sys.exit(0 if artifact["n_pass"] == artifact["n_keys"] else 1)


if __name__ == "__main__":
    main()
