#!/usr/bin/env python3
"""Pinned tests for the python instruments (r20 instrument-review pass).

The tools/ layer is what every verdict pin rests on (the r15 PlanAudit
finalization misread cost a round), yet it had no tests of its own.
This file pins the defects the r20 review found plus the tally band's
core contract, so an instrument regression fails loudly instead of
silently mis-grading a round.

Usage: python3 tools/test_tools.py   (exit 0 = all pass)
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import archive_r22_queries  # noqa: E402
import check_tally  # noqa: E402

n_pass = 0


def ok(cond, label):
    global n_pass
    if not cond:
        print(f"FAIL {label}")
        sys.exit(1)
    n_pass += 1
    print(f"PASS {label}")


def dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def test_default_bench_newest_round_all_windows():
    # r20 review finding 1: since r15 the rounds commit LETTERED windows
    # (bench_local_r15_a.json ...) which the original rN-only regex
    # scored -1, so a no-arg run silently compared SURVEY claims
    # against bench_local_r14.json — five rounds stale.
    # r20 review finding 2: the claims are pinned to the element-wise
    # MIN across a round's windows, so the gate must read ALL of the
    # newest round's windows, not one arbitrary (noisy) window.
    with tempfile.TemporaryDirectory() as d:
        names = ["bench_local_r8.json", "bench_local_r13b.json",
                 "bench_local_r14.json"] + \
                [f"bench_local_r15_{c}.json" for c in "abcd"] + \
                [f"bench_local_r19_{c}.json" for c in "abcdefgh"]
        os.mkdir(os.path.join(d, "archive"))
        for n in names:
            open(os.path.join(d, "archive", n), "w").close()
        cwd = os.getcwd()
        os.chdir(d)
        try:
            picked = check_tally.default_bench()
        finally:
            os.chdir(cwd)
        want = sorted(os.path.join("archive", f"bench_local_r19_{c}.json")
                      for c in "abcdefgh")
        ok(picked == want,
           f"default_bench returns ALL newest-round windows (got {picked})")


def test_default_bench_fallback():
    with tempfile.TemporaryDirectory() as d:
        cwd = os.getcwd()
        os.chdir(d)
        try:
            picked = check_tally.default_bench()
        finally:
            os.chdir(cwd)
        ok(picked == "bench_out.json",
           "default_bench falls back to bench_out.json when no snapshots")


def test_load_mins_elementwise():
    # one calm window + one co-tenant-inflated window: the gate must
    # grade against the per-entry min, not either single window
    with tempfile.TemporaryDirectory() as d:
        a = os.path.join(d, "a.json")
        b = os.path.join(d, "b.json")
        dump(a, {"queries": {"q_x": 1.0, "q_y": 9.0}})
        dump(b, {"queries": {"q_x": 5.0, "q_y": 2.0, "q_z": 0.5}})
        mins = check_tally.load_mins([a, b])
        ok(mins == {"q_x": 1.0, "q_y": 2.0, "q_z": 0.5},
           "load_mins takes the element-wise min across windows")
        ok(check_tally.load_mins(a) == {"q_x": 1.0, "q_y": 9.0},
           "load_mins accepts a single path (explicit-arg CLI mode)")


def test_tally_band():
    # the enforced zone flags a >3x contradiction and passes an in-band
    # claim; an in-zone claim absent from the artifact is also stale
    with tempfile.TemporaryDirectory() as d:
        bench = os.path.join(d, "b.json")
        dump(bench, {"queries": {"q_ok": 1.0, "q_bad": 9.0}})
        survey = os.path.join(d, "s.md")
        with open(survey, "w") as f:
            f.write("`q_bad` historic 1.1 s claim above the marker\n")
            f.write("<!-- tally:current -->\n")
            f.write("`q_ok` runs in 1.2 s now\n")
        ok(check_tally.main(survey, bench) == 0,
           "in-band claim below marker passes; above-marker claim is informational")
        with open(survey, "a") as f:
            f.write("`q_bad` runs in 1.1 s now\n")
        ok(check_tally.main(survey, bench) == 1,
           "3x contradiction below marker fails")
        survey2 = os.path.join(d, "s2.md")
        with open(survey2, "w") as f:
            f.write("<!-- tally:current -->\n")
            f.write("`q_gone` runs in 1.0 s now\n")
        ok(check_tally.main(survey2, bench) == 1,
           "in-zone claim absent from the artifact fails")


def test_tally_min_across_windows_end_to_end():
    # a min-pinned claim must pass even when ONE window of the round is
    # >3x the min — the exact false-STALE the single-window pick risked
    with tempfile.TemporaryDirectory() as d:
        os.mkdir(os.path.join(d, "archive"))
        calm = os.path.join(d, "archive", "bench_local_r30_a.json")
        noisy = os.path.join(d, "archive", "bench_local_r30_b.json")
        dump(calm, {"queries": {"q_x": 1.0}})
        dump(noisy, {"queries": {"q_x": 4.0}})
        survey = os.path.join(d, "s.md")
        with open(survey, "w") as f:
            f.write("<!-- tally:current -->\n")
            f.write("`q_x` runs in 1.0 s now\n")
        cwd = os.getcwd()
        os.chdir(d)
        try:
            rc = check_tally.main(survey, check_tally.default_bench())
        finally:
            os.chdir(cwd)
        ok(rc == 0,
           "min-pinned claim passes against the round's min despite a noisy window")


def test_archive_rejects_mismatched_windows():
    # a window missing an entry (or run at another core count) must fail
    # the archive, not be unioned into a min that mixes coverage
    def window(queries, cpus=32, errors=()):
        return {"queries": queries, "errors": list(errors),
                "sf": "/data/sf0.1", "config": {"cpus": cpus}}
    with tempfile.TemporaryDirectory() as d:
        a, b, c, e = (os.path.join(d, n) for n in "abce")
        dump(a, window({"q_x": 1.0, "q_y": 9.0}))
        dump(b, window({"q_x": 5.0, "q_y": 2.0}))
        out = archive_r22_queries.archive([a, b])
        ok(out["queries"] == {"q_x": 1.0, "q_y": 2.0} and out["cpus"] == 32
           and out["errors"] == [] and out["sf"] == "/data/sf0.1",
           "archive takes the element-wise min and carries cpus/errors/sf")
        dump(c, window({"q_x": 0.5}))
        try:
            archive_r22_queries.archive([a, c])
            ok(False, "archive rejects a window with a different keyset")
        except ValueError:
            ok(True, "archive rejects a window with a different keyset")
        dump(e, window({"q_x": 1.0, "q_y": 2.0}, cpus=8))
        try:
            archive_r22_queries.archive([a, e])
            ok(False, "archive rejects windows whose cpus disagree")
        except ValueError:
            ok(True, "archive rejects windows whose cpus disagree")


if __name__ == "__main__":
    test_default_bench_newest_round_all_windows()
    test_default_bench_fallback()
    test_load_mins_elementwise()
    test_tally_band()
    test_tally_min_across_windows_end_to_end()
    test_archive_rejects_mismatched_windows()
    print(f"\n{n_pass} pass")
