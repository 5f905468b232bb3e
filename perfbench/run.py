#!/usr/bin/env python3
"""Benchmark entry point; see perfbench/README.md.

Usage (from the repository root):
  python3 perfbench/run.py --workload {pipeline_ref,query_mix}
                           --seed N --seconds S --trace {0,1}

Builds the library and the harness with sbt (perfbench/build.sbt),
generates the workload's inputs from the seed, computes the golden
outputs in DuckDB, runs the JVM harness once and checks its outputs. The
last stdout line is the result: {"correct", "attempted", "failed", "metrics"}; end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A traced run
also writes its span file under .bench_build/trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture  # noqa: E402
import golden  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

# The query mix: nine ops queries, one per module, the cheapest of each
# module's candidates, so that a run of five passes fits the time budget.
# A unit is one pass; the seed permutes the order of every pass. The
# tables are the same for every seed, so every seed's pass does the same
# work.
TABLES_SEED = 0
QUERY_MIX = [
    ("Core", "q10_project"),
    ("Dedup", "q118_substring_dedup"),
    ("Similarity", "q249_mutual_knn"),
    ("TextAnalysis", "q299_heaps_law"),
    ("Sketching", "q280_gk_calibration"),
    ("Relational", "q124_window_suite"),
    ("Multimodal", "q213_dhash_radius"),
    ("Layout", "q328_gcol_spj_join"),
    ("TableOps", "q141_delta_agg_maintenance"),
]
MODULES = ["Core", "Dedup", "Similarity", "TextAnalysis", "Sketching",
           "Relational", "Multimodal", "Layout", "TableOps"]
ETL_STAGES = ["extract", "transform", "aggregate", "load", "validate"]
# Seconds a run may spend, build excluded, besides `--seconds` of timed
# units: session start, warm-up, the last unit's overshoot, checks.
SETUP_ALLOWANCE_S = {"pipeline_ref": 90, "query_mix": 120}
OUT = ".bench_build"
BUILD_INPUTS = ["src/main/scala", "src/main/resources", "perfbench/scala"]
MB = 1e6

E2E = {"run_s.p50": "s", "setup_s": "s", "heap_live_mb": "MB"}
PER_LAYER = (
    [(f"etl.{s}.s", "s") for s in ETL_STAGES]
    + [("etl.jobs", "count"), ("etl.scan_mb", "MB"), ("etl.scan_per_input", "ratio"),
       ("etl.shuffle_write_mb", "MB"), ("etl.output_mb", "MB"), ("etl.spill_mb", "MB"),
       ("etl.task_s", "s"), ("etl.busy_frac", "frac")]
    + [(f"ops.{m}.s", "s") for m in MODULES]
    + [(f"query.{q}.s", "s") for _, q in QUERY_MIX]
    + [("ops.build_s", "s"), ("ops.action_s", "s"), ("ops.jobs", "count"),
       ("ops.shuffle_write_mb", "MB"), ("ops.spill_mb", "MB"), ("ops.task_s", "s"),
       ("ops.busy_frac", "frac"), ("ops.leftover_persisted", "count"),
       ("sql.actions", "count"), ("sql.planning_s", "s"), ("trace.overhead", "frac")])

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def build():
    """Compiles the library and the harness with sbt (perfbench/build.sbt;
    offline, as the repository's test command runs it) and returns the
    harness classpath. sbt's own state stays under OUT. sbt's start-up alone
    takes about 8 s, so it is skipped while the classpath it exported last
    is newer than every file the build reads."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("no src/main/scala here; run from the repository root")
    out = os.path.abspath(OUT)
    cp_file = os.path.join(out, "classpath")
    inputs = [os.path.join(base, f) for d in BUILD_INPUTS for base, _, files in os.walk(d)
              for f in files] + ["perfbench/build.sbt", "perfbench/project/build.properties"]
    if os.path.exists(cp_file) and all(
            os.path.getmtime(f) < os.path.getmtime(cp_file) for f in inputs):
        with open(cp_file) as fh:
            return fh.read()
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    # TMPDIR and JAVA_TOOL_OPTIONS keep the sbt script's own files and its
    # JVMs' perf-data files out of /tmp.
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=f"{out}/tmp",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Dsbt.global.base={out}/sbt-global",
           f"-Djava.io.tmpdir={out}/tmp", f"-Djna.tmpdir={out}/tmp",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(cmd, cwd="perfbench", stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, env=env)
        fh.write(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def pipeline_inputs(work, seed):
    """Fixture and golden for the seed; returns harness arguments."""
    csv, parquet = fixture.generate(os.path.join(work, "x1"), seed)
    gold = os.path.join(work, "x1.golden")
    golden.write_golden(gold, *golden.pipeline_golden(csv, parquet))
    return {"csv": csv, "parquet": parquet, "golden": gold}


def heap_gb():
    """JVM heap: half the host's memory, clamped to 2..8 GB (the rule the
    repository's test command uses for the Spark heap)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return min(8, max(2, kb // 2097152))


def run_harness(work, classpath, opts, deadline):
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in opts.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(os.path.dirname(work), "harness.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=max(1, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run deadline; see {log}")
    if rc != 0 or not os.path.exists(opts["out"]):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"harness exited with {rc}; see {log}")
    with open(opts["out"]) as fh:
        return json.load(fh)


def oracle_failures(work, tables_dir):
    """Names of check-pass results that differ from their DuckDB oracle."""
    script = os.path.join("scripts", "check_oracle.py")
    out = subprocess.run([sys.executable, script, tables_dir, os.path.join(work, "check")],
                         capture_output=True, text=True)
    failed = {l.split()[1].rstrip(":") for l in out.stdout.splitlines() if l.startswith("FAIL")}
    for line in out.stdout.splitlines():
        if line.startswith("FAIL"):
            sys.stderr.write(f"perfbench: oracle {line}\n")
    if out.returncode not in (0, 1) or "pass," not in out.stdout:
        fail(f"oracle check did not run: {out.stderr[-2000:]}")
    return failed


def unit_rollup(spans, unit_span, cores):
    """Per-unit sums over the spans a traced unit caused."""
    sub = stats.subtree(spans, unit_span["id"])
    wall = unit_span["t1"] - unit_span["t0"]
    total = {k: sum(s[k] for s in sub) for k in (
        "jobs", "task_s", "read_bytes", "shuffle_write_bytes", "spill_bytes",
        "output_bytes", "actions", "planning_s")}
    total["busy_frac"] = total["task_s"] / (wall * cores) if wall > 0 else 0.0
    total["sub"] = sub
    return total


def per_layer(result, workload, input_bytes):
    spans, cores = result["spans"], result["cores"]
    units = [s for s in spans if s["name"] == "unit"]
    rolls = [unit_rollup(spans, u, cores) for u in units]
    m = {name: 0.0 for name, _ in PER_LAYER}

    def med(f):
        return stats.median([f(r) for r in rolls])

    def named(r, name):
        return sum(s["t1"] - s["t0"] for s in r["sub"] if s["name"] == name)

    if workload == "pipeline_ref":
        for st in ETL_STAGES:
            m[f"etl.{st}.s"] = med(lambda r: named(r, st))
        m["etl.jobs"] = med(lambda r: r["jobs"])
        m["etl.scan_mb"] = med(lambda r: r["read_bytes"] / MB)
        m["etl.scan_per_input"] = med(lambda r: r["read_bytes"] / input_bytes)
        m["etl.shuffle_write_mb"] = med(lambda r: r["shuffle_write_bytes"] / MB)
        m["etl.output_mb"] = med(lambda r: r["output_bytes"] / MB)
        m["etl.spill_mb"] = med(lambda r: r["spill_bytes"] / MB)
        m["etl.task_s"] = med(lambda r: r["task_s"])
        m["etl.busy_frac"] = med(lambda r: r["busy_frac"])
    else:
        module = {q: mod for mod, q in QUERY_MIX}
        for mod in MODULES:
            m[f"ops.{mod}.s"] = med(lambda r: sum(
                s["t1"] - s["t0"] for s in r["sub"] if module.get(s["name"]) == mod))
        for _, q in QUERY_MIX:
            m[f"query.{q}.s"] = med(lambda r: named(r, q))
        m["ops.build_s"] = med(lambda r: named(r, "build"))
        m["ops.action_s"] = med(lambda r: named(r, "action"))
        m["ops.jobs"] = med(lambda r: r["jobs"])
        m["ops.shuffle_write_mb"] = med(lambda r: r["shuffle_write_bytes"] / MB)
        m["ops.spill_mb"] = med(lambda r: r["spill_bytes"] / MB)
        m["ops.task_s"] = med(lambda r: r["task_s"])
        m["ops.busy_frac"] = med(lambda r: r["busy_frac"])
        traced_units = {u["unit"] for u in units}
        m["ops.leftover_persisted"] = stats.median([
            sum(q["leftover"] for q in result["queries"] if q["unit"] == u)
            for u in traced_units])
    m["sql.actions"] = med(lambda r: r["actions"])
    m["sql.planning_s"] = med(lambda r: r["planning_s"])
    traced = [u["s"] for u in result["units"] if u["traced"]]
    plain = [u["s"] for u in result["units"] if not u["traced"]]
    m["trace.overhead"] = stats.median(traced) / stats.median(plain) - 1
    return m


def write_span_file(result, metrics, workload, seed, host):
    selfs = stats.self_times(result["spans"])
    spans = [dict(s, self_s=selfs[s["id"]]) for s in result["spans"]]
    path = os.path.join(OUT, "trace", f"{workload}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "host": host,
                   "trace_overhead": metrics["trace.overhead"],
                   "units": result["units"], "queries": result["queries"],
                   "metrics": metrics, "spans": spans}, fh, indent=1)
    return path


def git_commit():
    """The checkout's git commit; None outside a git checkout."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def cpu_times():
    """Total and steal jiffies of all CPUs (steal: time the hypervisor ran
    another guest while this one was ready)."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(SETUP_ALLOWANCE_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    deadline = time.time() + SETUP_ALLOWANCE_S[args.workload] + args.seconds
    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opts = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "seed": args.seed, "work": work, "out": os.path.join(work, "result.json")}
    input_bytes = 0
    if args.workload == "pipeline_ref":
        opts.update(pipeline_inputs(work, args.seed))
        input_bytes = os.path.getsize(opts["csv"]) + os.path.getsize(opts["parquet"])
    else:
        tables_dir = tables.generate(os.path.join(work, "tables"), TABLES_SEED)
        opts.update(tables=tables_dir, queries=",".join(q for _, q in QUERY_MIX))

    # Write the generated inputs back now, not during the timed units.
    os.sync()
    cpu0 = cpu_times()
    result = run_harness(work, classpath, opts, deadline)
    cpu1 = cpu_times()

    # Every unit is checked: the harness compares pipeline sinks with the
    # DuckDB goldens; query results of the check pass go to the oracle here.
    runs = result["warm"] + result["units"]
    attempted, failed = len(runs), sum(1 for u in runs if "error" in u)
    if args.workload == "query_mix":
        # warm = the check pass, then the noop warm-up passes, in QUERY_MIX order
        check, warm_passes = result["warm"][:len(QUERY_MIX)], result["warm"][len(QUERY_MIX):]
        bad = {q for (_, q), w in zip(QUERY_MIX, check) if "error" in w}
        bad |= oracle_failures(work, opts["tables"])
        later = warm_passes + result["queries"]
        attempted = len(check) + len(later)
        failed = len(bad) + sum(1 for q in later if "error" in q)
    for u in runs:
        if "error" in u:
            sys.stderr.write(f"perfbench: unit failed: {u['error']}\n")

    host = {"nproc": result["cores"], "heap_max_mb": round(result["heap_max_mb"]),
            "spark": result["spark_version"], "commit": git_commit(),
            "local": f"local[{result['cores']}]"}
    plain = [u["s"] for u in result["units"] if not u["traced"]]
    info = {"host": host, "units": len(plain), "unit_s": plain,
            "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])}
    tail = stats.tail_percentile(plain)
    info["run_s.tail"] = ({"percentile": tail[0], "value": tail[1]} if tail
                          else f"omitted: {len(plain)} units, needs 11")
    if args.trace:
        metrics = per_layer(result, args.workload, input_bytes)
        info["span_file"] = write_span_file(result, metrics, args.workload, args.seed, host)
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER}
    else:
        values = {"run_s.p50": stats.median(plain), "setup_s": result["setup_s"],
                  "heap_live_mb": result["heap_live_mb"]}
        out = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    shutil.rmtree(work, ignore_errors=True)
    print("info " + json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
