#!/usr/bin/env python3
"""Cold/warm profile of every library entry: the measurement the
`suite_sf001` entries of run.py are chosen from.

Usage (from the repository root): python3 perfbench/entry_profile.py [--seed N]

Runs all entries of `SparkEntry.allDefs` through the benchmark's harness on
the benchmark's generated data, in one JVM: a cold pass with a fresh
artifact root, then two warm passes (the first traced, which gives the
artifact bytes each entry writes). Every output is checked as in a run.
Writes perfbench/profile_sf001.json: per entry its module, cold wall, median
warm wall and artifact bytes written on the cold run, heaviest first-run
excess first, and prints each module's typical entry (see `typical`).
Takes about 15 minutes on 4 cores.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def all_entries(root):
    prog, harness, jars = build.build(root)
    out = subprocess.run(["java"] + run.ADD_OPENS + [
        "-cp", os.pathsep.join([harness, prog, f"{jars}/*"]), "perfbench.ListEntries"],
        capture_output=True, text=True, check=True).stdout
    return [tuple(line.split("\t")) for line in out.splitlines()]


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args(argv)
    root = os.getcwd()
    run.WORKLOADS["profile"] = {"entries": all_entries(root), "lib": "tables", "lib_passes": 1,
                                "cli": ["lineitem"], "min_warm": 2}
    run.RUN_LIMIT_S = 1800
    code = run.main(["--workload", "profile", "--seed", str(a.seed), "--seconds", "0",
                     "--trace", "1"])
    result = json.load(open(os.path.join(root, ".bench_out", f"profile-seed{a.seed}-trace1.json")))
    rows = []
    for name, e in result["detail"]["per_entry"].items():
        warm = e["warm"] + e["warm_traced"]
        if "cold_s" not in e or not warm:
            continue  # it threw: listed among the run's failures
        rows.append({"name": name, "module": e["module"], "cold_s": round(e["cold_s"], 3),
                     "warm_s": round(statistics.median(warm), 3),
                     "art_bytes_cold": e["cold"].get("art_bytes_written", 0)})
    rows.sort(key=lambda r: r["warm_s"] - r["cold_s"])
    with open(os.path.join(HERE, "profile_sf001.json"), "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(r) for r in rows) + "\n]\n")
    for module, r in typical(rows).items():
        print(f"typical {module}: {r['name']}")
    return code


def typical(rows):
    """Per module, the entry nearest (in log space) the module's median warm
    time and median cold/warm ratio."""
    out = {}
    for module in dict.fromkeys(r["module"] for r in rows):
        rs = [r for r in rows if r["module"] == module and r["warm_s"] > 0]
        warm = statistics.median(r["warm_s"] for r in rs)
        ratio = statistics.median(r["cold_s"] / r["warm_s"] for r in rs)
        out[module] = min(rs, key=lambda r: math.hypot(math.log(r["warm_s"] / warm),
                                                       math.log(r["cold_s"] / r["warm_s"] / ratio)))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
