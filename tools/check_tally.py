#!/usr/bin/env python3
"""Reproducible closing-tally check (VERDICT r4 item 3 / r5 item 6).

Scans SURVEY.md for per-query bench claims — lines that mention exactly
one backticked query name plus at least one "<number> s" figure — and
diffs the LAST figure on the line (the claimed current value) against
the query's measured min in bench_out.json.

Historical round sections legitimately contain superseded numbers, so
only claims BELOW the literal marker line `<!-- tally:current -->` are
enforced (exit 1 on a stale claim); everything above is reported as
informational. A claim is stale when it disagrees with the measured min
by more than 3x in either direction — single-run co-tenant variance on
this box stays within ~2x (VERDICT r5 calibration), so a 3x band only
fires on real contradictions like the r4 "2.74 s" star-CC claim that
two consecutive driver benches measured at 8.9-17.7 s.

Usage: python3 tools/check_tally.py [SURVEY.md] [bench_out.json]
"""
import json
import os
import re
import sys

MARKER = "<!-- tally:current -->"
NAME_RE = re.compile(r"`((?:q|s)_[a-z0-9_]+)`")
SECS_RE = re.compile(r"(\d+(?:\.\d+)?)\s*s\b")


def load_mins(bench_paths):
    """Element-wise min across one or more bench windows. The enforced
    zone's claims are pinned to the MIN across a round's windows (the
    round protocol's bench-noise discipline: single-window co-tenant
    variance measured ~2x), so grading them against one window risks a
    false STALE from one noisy window — the gate must read the same
    statistic the claims are written from (r20 instrument review)."""
    if isinstance(bench_paths, str):
        bench_paths = [bench_paths]
    maps = [json.load(open(p))["queries"] for p in bench_paths]
    keys = set().union(*(set(m) for m in maps))
    return {k: min(m[k] for m in maps if k in m) for k in keys}


def main(survey_path, bench_path):
    mins = load_mins(bench_path)
    enforced_zone = False
    stale = []
    for lineno, line in enumerate(open(survey_path), 1):
        if MARKER in line:
            enforced_zone = True
            continue
        names = set(NAME_RE.findall(line))
        secs = SECS_RE.findall(line)
        if len(names) != 1 or not secs:
            continue
        (name,) = names
        if name not in mins:
            # outside the enforced zone an unknown name is historical
            # (renamed/removed entries); inside it, a claim the artifact
            # cannot back is exactly the failure mode this gate exists
            # for (e.g. a partial SPARK_GRAFT_BENCH_ONLY artifact)
            if enforced_zone:
                print(f"STALE {survey_path}:{lineno} {name}: "
                      "claimed but absent from the bench artifact")
                stale.append((lineno, name, None, None))
            continue
        claimed = float(secs[-1])
        measured = mins[name]
        ok = measured / 3 <= claimed <= measured * 3 or abs(claimed - measured) < 0.3
        tag = "OK   " if ok else ("STALE" if enforced_zone else "old  ")
        if not ok:
            print(f"{tag} {survey_path}:{lineno} {name}: "
                  f"claimed {claimed}s, measured min {measured:.2f}s")
        if not ok and enforced_zone:
            stale.append((lineno, name, claimed, measured))
    if stale:
        print(f"\n{len(stale)} stale claim(s) below {MARKER} — "
              "update SURVEY.md from bench_out.json before the closing commit")
        return 1
    print("tally check: no stale claims in the enforced zone")
    return 0


def default_bench():
    """Prefer the newest committed per-round local snapshot under
    archive/ (bench_local_rN.json or a lettered window
    bench_local_rN_x.json —
    VERDICT r7 item 3: the driver's own run overwrites bench_out.json,
    orphaning the claims this gate checks), falling back to
    bench_out.json for mid-round iteration.

    The round number must parse from EVERY snapshot shape: since r15
    the rounds commit lettered windows (bench_local_r15_a.json ...)
    that the original rN-only regex scored -1, so a no-arg run
    silently compared SURVEY claims against whatever unlettered file
    max() happened to keep — bench_local_r14.json, five rounds stale
    (r20 instrument review). Returns ALL of the newest round's windows
    (sorted, for determinism) so load_mins grades claims against the
    element-wise min — the statistic the claims are pinned to — rather
    than one arbitrary window's co-tenant noise."""
    import glob
    snaps = glob.glob(os.path.join("archive", "bench_local_r*.json"))
    if not snaps:
        return "bench_out.json"

    def rnum(p):
        m = re.search(r"bench_local_r(\d+)[_a-z0-9]*\.json$", p)
        return int(m.group(1)) if m else -1
    best = max(rnum(p) for p in snaps)
    if best < 0:
        return "bench_out.json"
    return sorted(p for p in snaps if rnum(p) == best)


if __name__ == "__main__":
    survey = sys.argv[1] if len(sys.argv) > 1 else "SURVEY.md"
    bench = sys.argv[2] if len(sys.argv) > 2 else default_bench()
    sys.exit(main(survey, bench))
