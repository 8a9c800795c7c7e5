#!/usr/bin/env python3
"""Benchmark of the DDL tool and the query library.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run builds the program if needed (perfbench/build.py), generates its
inputs from the seed (perfbench/gen.py), then drives the program through its
public entry points from one closed-loop client, one operation at a time:

  1. the `graft.chschema.SchemaGen` CLI, each launch a fresh JVM, half of
     the launches before the measured JVM and half after it;
  2. one measured JVM (perfbench/harness) with Bench.scala's conf set at
     local[nproc]: a cold pass over the workload's entries, in-process DDL
     conversions (`SchemaUtils.parquetSchemaToClickHouse`), the first pass
     of them cold and the rest warm, then warm passes over the entries until
     S seconds have elapsed.

The units of work are the entries and the in-process conversions: each
one's first execution adds to cold_total_s, its median warm execution to
warm_total_s and warm_geomean_ms, so that the DDL workload's totals rest on
its conversions and not on four short entries alone.

Every output is checked (perfbench/check.py): entry rows against DuckDB on
the entry's oracle SQL or a pinned golden, DDL byte for byte against the
FIXTURES.md goldens or structurally against its generating schema. The last
stdout line is one JSON object: correct, attempted, failed and the metrics
(end-to-end ones with --trace 0, per-layer ones with --trace 1). The full
record, with its stamp and the list of failures, is written to
.bench_out/<workload>-seed<N>-trace<T>.json; a traced run also writes its
spans next to it. Everything a run writes lives under the checkout and its
run directory is deleted at the end. The exit code is 1 when any check
failed, after the result line is printed.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

MODULES = ["Relational", "LlmOps", "Advanced", "StreamingOps", "SchemaQueries",
           "SourceOps", "Battery", "TrainPrep", "Curation"]

# Frozen workload definitions. `entries` are (name, module) in run order;
# `lib` is what the in-process DDL phase converts, in `lib_passes` passes
# (the first cold), `cli` the corpus keys the CLI converts, one fresh JVM
# each (the median of them is reported). Both run at sf0.01 so that a run
# (two or three JVM bring-ups included) stays near a minute on a 4-core
# machine, in spells of co-tenant load too.
WORKLOADS = {
    # the paper's tool: footer read, session bring-up and rendering; the
    # query side runs only the four schema/DDL entries
    "ddl_corpus": {
        "entries": [("schema_columns", "SchemaQueries"), ("ddl_lineitem", "SchemaQueries"),
                    ("ddl_nested", "SchemaQueries"), ("ddl_extended", "SchemaQueries")],
        "lib": "corpus", "lib_passes": 2, "cli": ["ref_fixture", "syn_w2000_d6"],
        "min_warm": 2,
    },
    # one library entry per query module, cold then warm, picked from the
    # measured cold/warm profile of all 189 entries (profile_sf001.json,
    # written by entry_profile.py). s_tumbling_counts (first run 14x its
    # warm median, streaming bring-up) stands for the few entries that
    # dominate first-run cost; each other module gives its entry nearest
    # the module's median warm time and cold/warm ratio (q_snapshot_asof
    # builds an artifact). Per-query fixed costs dominate.
    "suite_sf001": {
        "entries": [("q_grouping_sets", "Relational"), ("q_text_tokens", "LlmOps"),
                    ("q_media_pipeline", "Advanced"), ("s_tumbling_counts", "StreamingOps"),
                    ("ddl_nested", "SchemaQueries"), ("q_snapshot_asof", "SourceOps"),
                    ("q_merge_upsert", "Battery"), ("q_class_weights", "TrainPrep"),
                    ("q_dp_release", "Curation")],
        "lib": "tables", "lib_passes": 5, "cli": ["lineitem"],
        "min_warm": 2,
    },
}
SF = 0.01

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "2g"
MAX_WARM = 20  # cap on warm passes, whatever --seconds asks for
# build+plan+exec must cover this share of each entry's wall (see coverage)
COVERAGE_TOLERANCE = 0.95
RUN_LIMIT_S = 170  # a run must end within 180 s of its start (after the build)


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def jvm_flags(art):
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={art}/tmp",
            f"-Dspark.local.dir={art}/local", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS


def run_proc(cmd, cwd, log_path, deadline):
    """Run one child to completion; it is killed (and waited for) at the
    run's deadline or if this process fails. Returns (exit code, wall
    seconds from launch to exit)."""
    with open(log_path, "ab") as lf:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=lf)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
        return code, time.perf_counter() - t0


def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(f) - f[3] - f[4], f[7]


def steal_frac(start, end):
    busy, steal = end[0] - start[0], end[1] - start[1]
    return steal / busy if busy else 0.0


def source_stamp(root):
    """The commit, when the checkout is a git work tree (the source hash of
    the build is stamped either way)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    wl = WORKLOADS[a.workload]
    traced = a.trace == 1
    load_start = os.getloadavg()[0]
    jiffies_start = cpu_jiffies()

    t = time.perf_counter()
    prog_cls, harness_cls, jars = build.build(root)
    build_s = time.perf_counter() - t
    deadline = time.monotonic() + RUN_LIMIT_S

    run_dir = os.path.join(root, ".bench_runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    art, dump = os.path.join(run_dir, "art"), os.path.join(run_dir, "dump")
    for d in (art + "/tmp", art + "/local", dump, run_dir + "/ddl", run_dir + "/cli"):
        os.makedirs(d)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        result = measure(a, wl, traced, root, run_dir, art, dump, prog_cls, harness_cls, jars,
                         deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["stamp"].update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_commit": source_stamp(root), "source_hash": os.path.basename(os.path.dirname(prog_cls)),
        "nproc": len(os.sched_getaffinity(0)), "load1_start": load_start,
        "load1_end": os.getloadavg()[0], "build_s": build_s,
        # CPU time the hypervisor gave to other guests, as a share of busy
        # time over the run: high values mean co-tenant load, not the program
        "steal_frac": steal_frac(jiffies_start, cpu_jiffies())})
    if traced:
        spans = os.path.join(".bench_out", f"{a.workload}-seed{a.seed}.spans.jsonl")
        result["stamp"]["spans_file"] = spans
        result["detail"]["span_times"] = self_times(os.path.join(root, spans))
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    for fl in result["failures"]:
        log(f"FAIL {fl}")
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))
    return 1 if result["failures"] else 0


def measure(a, wl, traced, root, run_dir, art, dump, prog_cls, harness_cls, jars, deadline):
    failures = []
    cpus = len(os.sched_getaffinity(0))

    # ---- inputs: generated twice, the copies must be byte-identical
    gen_s = []
    data = os.path.join(run_dir, "data")
    for d in (data, data + "_again"):
        t = time.perf_counter()
        gen.write_tables(d, a.seed, SF)
        gen_s.append(time.perf_counter() - t)
    inputs, copies = [data], [data + "_again"]
    corpus_s = []
    if wl["lib"] == "corpus":
        corpus = os.path.join(run_dir, "corpus")
        # the copy first, so the specs kept are those of the corpus converted
        for d in (corpus + "_again", corpus):
            t = time.perf_counter()
            specs = gen.write_ddl_corpus(d, a.seed, data)
            corpus_s.append(time.perf_counter() - t)
        inputs.append(corpus)
        copies.append(corpus + "_again")
    else:
        specs = gen.table_specs(data)
    digest = gen.digest(inputs)
    if gen.digest(copies) != digest:
        failures.append("inputs: the same seed gave different bytes")
    for d in copies:
        shutil.rmtree(d)
    by_key = {s["key"]: s for s in specs}
    goldens = json.load(open(os.path.join(HERE, "goldens.json")))

    def check_spec_ddl(spec, text):
        if spec["golden"]:
            return None if text == goldens["ddl"][spec["golden"]] else "differs from golden"
        return check.check_ddl(text, spec["schema"], spec["pk"], spec["mode"])

    # ---- CLI phase: one fresh JVM per conversion, half of them before the
    # measured JVM and half after it, so that their median spans the run
    cli_walls, cli_parts = [], []

    def run_cli(i, key):
        spec = by_key[key]
        out = os.path.join(run_dir, "cli", f"{i}.sql")
        args = ["--parquet-path", spec["path"], "--clickhouse-schema-path", out,
                "--table-name", spec["table"], "--primary-key", spec["pk"]]
        if spec["mode"] == "extended":
            args += ["--mode", "extended"]
        flags = jvm_flags(art)
        if traced:
            probe = os.path.join(run_dir, "cli", f"{i}.probe.json")
            cmd = ["java"] + flags + ["-Dspark.extraListeners=perfbench.CliListener", "-cp",
                                      os.pathsep.join([harness_cls, prog_cls, f"{jars}/*"]),
                                      "perfbench.CliProbe", probe] + args
        else:
            cmd = ["java"] + flags + ["-cp", os.pathsep.join([prog_cls, f"{jars}/*"]),
                                      "graft.chschema.SchemaGen"] + args
        launch_ms = time.time() * 1000
        code, wall = run_proc(cmd, art, os.path.join(run_dir, "cli.log"), deadline)
        err = f"exit {code}" if code != 0 else (
            check_spec_ddl(spec, open(out).read()) if os.path.exists(out) else "no output file")
        if err:
            failures.append(f"cli {spec['table']}: {err}")
        cli_walls.append(wall)
        if traced and code == 0:
            p = json.load(open(probe))
            cli_parts.append({"wall_s": wall, "launch_ms": launch_ms, **p})

    cli_before = (len(wl["cli"]) + 1) // 2
    for i, key in enumerate(wl["cli"][:cli_before]):
        run_cli(i, key)

    # ---- measured JVM
    plan = [("conf", "cpus", str(cpus)), ("conf", "trace", str(a.trace)),
            ("conf", "data", data), ("conf", "dump", dump),
            ("conf", "results", os.path.join(run_dir, "results.jsonl")),
            ("conf", "trace_file", os.path.join(root, ".bench_out", f"{a.workload}-seed{a.seed}.spans.jsonl")),
            ("conf", "warmup", os.path.join(data, "lineitem.parquet")),
            ("conf", "seconds", str(a.seconds)), ("conf", "lib_passes", str(wl["lib_passes"])),
            ("conf", "min_warm", str(wl["min_warm"])), ("conf", "max_warm", str(MAX_WARM))]
    for s in specs:
        plan.append(("lib", s["key"], s["path"], s["table"], s["pk"], s["mode"],
                     os.path.join(run_dir, "ddl", s["key"] + ".sql")))
    plan += [("entry", n, m) for n, m in wl["entries"]]
    plan_path = os.path.join(run_dir, "plan.tsv")
    with open(plan_path, "w") as f:
        f.write("".join("\t".join(p) + "\n" for p in plan))
    # a fixed, pre-touched heap: peak RSS then moves with the JVM's native
    # memory, not with when the GC's ergonomics grow the heap (which moved
    # it by half a GB between identical runs)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] + jvm_flags(art) + [
        "-cp", os.pathsep.join([harness_cls, prog_cls, f"{jars}/*"]), "perfbench.Harness", plan_path]
    launch_ms = time.time() * 1000
    code, harness_wall = run_proc(cmd, art, os.path.join(run_dir, "harness.log"), deadline)
    results_path = os.path.join(run_dir, "results.jsonl")
    if code != 0 or not os.path.exists(results_path):
        tail = open(os.path.join(run_dir, "harness.log"), errors="replace").read()[-3000:]
        raise SystemExit(f"perfbench: harness exited {code}:\n{tail}")
    for i, key in enumerate(wl["cli"][cli_before:], cli_before):
        run_cli(i, key)
    recs = [json.loads(l) for l in open(results_path)]
    kinds = lambda k: [r for r in recs if r["kind"] == k]
    ready, end = kinds("ready")[0], kinds("end")[0]

    # ---- checks on the timed outputs
    con = check.oracle_connection(data)
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    bad_cold = {}
    for r in kinds("entry"):
        name = r["name"]
        if "error" in r:
            err = f"threw: {r['error']}"
        elif r["rep"] == 0 or r.get("differs_from_cold"):
            ddir = os.path.join(dump, name if r["rep"] == 0 else f"{name}@{r['rep']}")
            if name in oracle:
                err = check.check_oracle(con, oracle[name], ddir)
            elif name in goldens["entries"]:
                err = check.check_golden_rows(con, goldens["entries"][name], ddir)
            else:
                err = "no oracle and no golden"
            if r["rep"] == 0:
                bad_cold[name] = err
        else:
            err = bad_cold.get(name)  # the same rows as the cold result
        if err:
            failures.append(f"entry {name} rep {r['rep']}: {err}")
    lib = kinds("lib")
    for s in specs:
        path = os.path.join(run_dir, "ddl", s["key"] + ".sql")
        err = check_spec_ddl(s, open(path).read()) if os.path.exists(path) else "no output file"
        for r in lib:
            if r["key"] == s["key"] and (err or not r["same_as_first"]):
                failures.append(f"lib {s['key']} pass {r['pass']}: {err or 'differs from pass 0'}")
    con.close()
    entry_recs = kinds("entry")
    # the timed parts of an entry must cover its wall
    for name, share in coverage(entry_recs).items():
        if share < COVERAGE_TOLERANCE:
            failures.append(f"entry {name}: build+plan+exec cover {share:.3f} of its wall, "
                            f"less than {COVERAGE_TOLERANCE}")
    # one failure line per failed operation; the input check is one more
    attempted = len(cli_walls) + 1 + len(entry_recs) + len(lib)
    failed = len(failures)

    # ---- metrics
    stamp = {"input_digest": digest, "cpus": cpus, "heap": HEAP, "java": end["java"],
             "heap_max_mb": end["heap_max_mb"], "spark_conf": end["spark_conf"],
             "jvm_load1_start": end["load_start"], "jvm_load1_end": end["load_end"],
             "gen_s": gen_s, "corpus_s": corpus_s, "harness_wall_s": harness_wall,
             "measured_s": end["measured_s"], "process_cpu_s": end["process_cpu_s"], "lib_phase_s": kinds("lib_phase")[0]["s"],
             "jvm_to_main_s": (ready["main_ms"] - launch_ms) / 1e3,
             "main_to_ready_s": (ready["ready_ms"] - ready["main_ms"]) / 1e3, "entries": [n for n, _ in wl["entries"]]}
    per_entry = summarize_entries(entry_recs)
    # warm conversions: every pass but the first
    lib_warm = [r["ms"] for r in lib if r["pass"] > 0 and not r["traced"]]
    detail = {"per_entry": per_entry, "cli_walls": cli_walls, "cli_parts": cli_parts,
              "lib_ms": [(r["key"], r["pass"], r["traced"], r["ms"]) for r in lib],
              "bringup": {r["shape"]: r["s"] for r in kinds("bringup")}}
    if traced:
        metrics = layer_metrics(recs, per_entry, cli_parts, lib, entry_recs, failed, attempted)
        stamp["tail_percentile"] = None
    else:
        tp, tail_ms = check.tail(lib_warm)
        stamp["tail_percentile"] = tp
        setup_s = (statistics.median(gen_s) + (statistics.median(corpus_s) if corpus_s else 0.0)
                   + (ready["ready_ms"] - launch_ms) / 1000.0)
        cold, warm = unit_times(per_entry, lib)
        m = {
            "setup_s": (setup_s, "s"),
            "ddl_cli_p50_s": (check.median(cli_walls), "s"),
            "ddl_lib_tables_per_s": (len(lib_warm) / (sum(lib_warm) / 1000.0), "1/s"),
            "ddl_lib_p50_ms": (check.median(lib_warm), "ms"),
            "ddl_lib_tail_ms": (tail_ms, "ms"),
            "cold_total_s": (sum(cold), "s"),
            "warm_total_s": (sum(warm), "s"),
            "warm_geomean_ms": (check.geomean(warm) * 1000.0, "ms"),
            "peak_rss_mb": (end["vm_hwm_mb"], "MB"),
            "artifact_mb": (end["artifact_bytes"] / 1048576.0, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": metrics, "failures": failures, "stamp": stamp, "detail": detail}


def unit_times(per_entry, lib):
    """(cold, warm) seconds of each unit of work, the entries and the
    in-process conversions: an entry's cold execution and median untraced
    warm one; a conversion's first pass and its median over the untraced
    later passes."""
    cold = [e["cold_s"] for e in per_entry.values() if "cold_s" in e]
    cold += [r["ms"] / 1000.0 for r in lib if r["pass"] == 0]
    warm = [check.median(e["warm"]) for e in per_entry.values() if e["warm"]]
    by_key = {}
    for r in lib:
        if r["pass"] > 0 and not r["traced"]:
            by_key.setdefault(r["key"], []).append(r["ms"] / 1000.0)
    return cold, warm + [check.median(v) for v in by_key.values()]


def coverage(entry_recs):
    """Per entry: build+plan+exec over the client-side wall, both summed
    over its executions (the wall is read apart from the parts, so the
    ratio is below 1 by the job tagging and clearCache around them)."""
    parts, walls = {}, {}
    for r in entry_recs:
        if "build_s" in r:
            parts[r["name"]] = parts.get(r["name"], 0.0) + r["build_s"] + r["plan_s"] + r["exec_s"]
            walls[r["name"]] = walls.get(r["name"], 0.0) + r["wall_s"]
    return {n: parts[n] / walls[n] for n in parts if walls[n] > 0}


def self_times(spans_path):
    """Per span name: total and self seconds, self being the span's
    duration minus the part its child spans (same execution, parent named
    by this span) cover."""
    spans = [json.loads(l) for l in open(spans_path)]
    out = {}
    for sp in spans:
        kids = [k for k in spans if k["exec"] == sp["exec"] and k["parent"] == sp["name"]]
        dur = (sp["end"] - sp["start"]) / 1e9
        t = out.setdefault(sp["name"], {"total_s": 0.0, "self_s": 0.0})
        t["total_s"] += dur
        t["self_s"] += dur - sum(k["end"] - k["start"] for k in kids) / 1e9
    return out


def summarize_entries(entry_recs):
    """Per entry: the cold record, the warm walls of untraced and traced
    passes, and the traced warm records. An execution that threw is left
    out (it is listed as a failure)."""
    out = {}
    for r in entry_recs:
        e = out.setdefault(r["name"], {"module": r["module"], "warm": [], "warm_traced": [], "reps": []})
        if "error" in r:
            continue
        if r["rep"] == 0:
            e["cold_s"] = r["wall_s"]
            e["cold"] = r
        elif r["traced"]:
            e["warm_traced"].append(r["wall_s"])
            e["reps"].append(r)
        else:
            e["warm"].append(r["wall_s"])
    return out


def layer_metrics(recs, per_entry, cli_parts, lib, entry_recs, failed, attempted):
    """Per-layer metrics of a traced run (see BENCHMARK.json `per_layer`)."""
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    # chschema: the CLI split into timed parts, the rest is JVM start + exit
    if cli_parts:
        sess = [(p["session_ms"] - p["main_ms"]) / 1e3 for p in cli_parts]
        conv = [(p["app_end_ms"] - p["session_ms"]) / 1e3 for p in cli_parts]
        stop = [(p["return_ms"] - p["app_end_ms"]) / 1e3 for p in cli_parts]
        unattr = [p["wall_s"] - s - c - t for p, s, c, t in zip(cli_parts, sess, conv, stop)]
        put("chschema.session_s", check.median(sess), "s")
        put("chschema.convert_s", check.median(conv), "s")
        put("chschema.stop_s", check.median(stop), "s")
        put("chschema.cli_unattributed_s", check.median(unattr), "s")
    # the warm conversions, or all of them when a run makes only one pass
    traced_lib = ([r for r in lib if r["traced"] and r["pass"] > 0]
                  or [r for r in lib if r["traced"]])
    engine = {r["exec"]: r for r in recs if r["kind"] == "engine"}
    lib_engine = [engine.get(f"lib:{r['key']}#{r['pass']}", {}) for r in traced_lib]
    put("chschema.parquetSchema_ms_p50", check.median([r["schema_ms"] for r in traced_lib]), "ms")
    put("chschema.spark_jobs_per_table", sum(e.get("jobs", 0) for e in lib_engine) / len(traced_lib), "count")
    put("chschema.fs_bytes_read_per_table", sum(r["fs_bytes_read"] for r in traced_lib) / len(traced_lib), "B")
    put("chschema.fs_read_ops_per_table", sum(r["fs_read_ops"] for r in traced_lib) / len(traced_lib), "count")
    renders = [r["render_ms"] for r in traced_lib]
    put("chschema.render_ms_p50", check.median(renders), "ms")
    tl = check.tail(renders, beyond=max(1, len(renders) // 10))
    put("chschema.render_ms_tail", tl[1], "ms")
    put("chschema.columns_rendered", sum(r["columns"] for r in traced_lib) / len(traced_lib), "count")

    # queries: build / plan / exec per module, cold and warm
    for mod in MODULES:
        es = [e for e in per_entry.values() if e["module"] == mod]
        for layer in ("build", "plan", "exec"):
            cold = sum((e["cold"][f"{layer}_s"] for e in es if "cold" in e), 0.0)
            warm = sum((check.median([r[f"{layer}_s"] for r in e["reps"]]) for e in es if e["reps"]), 0.0)
            put(f"queries.{mod}.{layer}_s.cold", cold, "s")
            put(f"queries.{mod}.{layer}_s.warm", warm, "s")
    bring = {r["shape"]: r["s"] for r in recs if r["kind"] == "bringup"}
    for shape in ("tumbling", "sliding", "session"):
        put(f"queries.StreamingOps.bring_up_s.{shape}", bring.get(shape, 0.0), "s")
    put("trace.layer_coverage_min", min(coverage(entry_recs).values(), default=1.0), "ratio")

    # spark engine, per warm pass: each entry's traced warm reps averaged
    warm_engine = {}
    for r in entry_recs:
        if r["rep"] > 0 and r["traced"]:
            warm_engine.setdefault(r["name"], []).append(engine.get(f"{r['name']}#{r['rep']}", {}))

    def per_pass(key):
        return sum(sum(x.get(key, 0) for x in xs) / len(xs) for xs in warm_engine.values())
    put("spark.jobs", per_pass("jobs"), "count")
    put("spark.stages", per_pass("stages"), "count")
    put("spark.tasks", per_pass("tasks"), "count")
    put("spark.task_s", per_pass("task_s"), "s")
    med = per_pass("stage_median_task_s")
    put("spark.task_skew", per_pass("stage_max_task_s") / med if med > 0 else 1.0, "ratio")
    put("spark.shuffle_read_mb", per_pass("shuffle_read_b") / 1048576.0, "MB")
    put("spark.shuffle_write_mb", per_pass("shuffle_write_b") / 1048576.0, "MB")
    put("spark.spill_mb", per_pass("spill_b") / 1048576.0, "MB")
    put("spark.input_mb", per_pass("input_b") / 1048576.0, "MB")
    put("spark.executor_gc_s", per_pass("gc_s"), "s")
    put("spark.sched_wait_s", per_pass("sched_wait_s"), "s")

    # plan shape, from each entry's cold executed plan
    cold = [e["cold"] for e in per_entry.values() if "cold" in e]
    put("plan.single_partition_windows", sum(c.get("single_partition_windows", 0) for c in cold), "count")
    put("plan.exchanges", sum(c.get("exchanges", 0) for c in cold), "count")

    # sources: artifact bytes and entries, cold vs warm
    built = {c["name"] for c in cold if c.get("art_bytes_written", 0) > 0}
    warm_recs = [r for r in entry_recs if r["rep"] > 0 and r["traced"] and "art_bytes_written" in r]
    put("sources.bytes_written_cold_mb", sum(c.get("art_bytes_written", 0) for c in cold) / 1048576.0, "MB")
    n_passes = max(1, len({r["rep"] for r in warm_recs}))
    put("sources.bytes_written_warm_mb",
        sum(r["art_bytes_written"] for r in warm_recs) / 1048576.0 / n_passes, "MB")
    served = [r for r in warm_recs if r["name"] in built]
    put("sources.serve_ratio",
        sum(1 for r in served if r["art_bytes_written"] == 0) / len(served) if served else 1.0, "ratio")
    put("sources.tmp_entries_added_warm", sum(r["art_entries_added"] for r in warm_recs), "count")

    end = next(r for r in recs if r["kind"] == "end")
    put("jvm.gc_s", end["gc_s"], "s")
    put("jvm.gc_count", end["gc_count"], "count")
    put("jvm.heap_peak_mb", end["heap_peak_mb"], "MB")

    # tracing overhead: traced over untraced, on the alternating warm
    # passes over the entries (every conversion of a traced run is traced)
    t_on = sum(check.median(e["warm_traced"]) for e in per_entry.values() if e["warm_traced"] and e["warm"])
    t_off = sum(check.median(e["warm"]) for e in per_entry.values() if e["warm_traced"] and e["warm"])
    put("trace.overhead_frac", t_on / t_off - 1.0 if t_off > 0 else 0.0, "ratio")
    put("failed_frac", failed / attempted if attempted else 0.0, "ratio")
    return m


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the repository root (no src/main/scala here)\n")
        sys.exit(2)
    # on SIGTERM unwind normally, so each child JVM is killed and waited for
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    sys.exit(main(sys.argv[1:]))
