#!/usr/bin/env python3
"""Build BENCH_r22_queries.json: element-wise min over the committed
archive/bench_local_r22_*.json windows, in bench_out.json's shape —
the same convention as BENCH_r21_queries.json (r19/r21).

Every window must carry the same query keyset, cpus, errors and sf;
a window that disagrees (a failed or missing entry, another core
count) fails the archive instead of being silently mixed in.

Usage: python3 tools/archive_r22_queries.py   (from the repository root)
"""
import glob
import json


def archive(files):
    """The archived dict for `files`; raises ValueError on any mismatch."""
    if not files:
        raise ValueError("no windows to archive")
    windows = [(f, json.load(open(f))) for f in files]
    first_f, first = windows[0]
    keys = set(first["queries"])
    fields = {"cpus": first["config"]["cpus"], "errors": first["errors"],
              "sf": first["sf"]}
    for f, d in windows[1:]:
        if set(d["queries"]) != keys:
            diff = sorted(set(d["queries"]) ^ keys)
            raise ValueError(f"{f}: query keyset differs from {first_f} on {diff}")
        got = {"cpus": d["config"]["cpus"], "errors": d["errors"], "sf": d["sf"]}
        for k, v in fields.items():
            if got[k] != v:
                raise ValueError(f"{f}: {k}={got[k]!r} differs from {first_f}'s {v!r}")
    mins = {k: min(d["queries"][k] for _, d in windows) for k in sorted(keys)}
    return {
        "metric": "total",
        "value": sum(mins.values()),
        "unit": "sec",
        "queries": mins,
        "errors": fields["errors"],
        "sf": fields["sf"],
        "cpus": fields["cpus"],
        "windows": len(files),
        "source": ("element-wise min over committed archive/bench_local_r22_*.json "
                   "(min-of-reps per window; OPTIMIZATION_r22.md round protocol)"),
    }


if __name__ == "__main__":
    files = sorted(glob.glob("archive/bench_local_r22_*.json"))
    out = archive(files)
    with open("BENCH_r22_queries.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"windows={len(files)} entries={len(out['queries'])} min-sum={out['value']:.3f}")
