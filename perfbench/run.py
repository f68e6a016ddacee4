#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload ref_ml --seed 1 --seconds 10 --trace 0

It builds the library and the harness (once per checkout, into
.bench_build/, with a class-data archive and the oracle answers), writes the seeded inputs, runs the harness JVM for one
workload, checks every query's result with tools/check_oracle.py, and
prints the metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The line before it,
prefixed "perfbench-report", carries the full record of the run (per-pass
load, microbatch latency, per-query times, the oracle verdicts).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402

SF = 0.01          # input scale: lineitem has 60k rows
PARTS = 4          # part files per table; the seed moves the cuts
SETUP_REPEATS = 3  # input generations per run; setup_s uses their median
HEAP = "3g"
BUILD = ".bench_build"
ARCHIVE = "classes.jsa"
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
# sources that decide what the build produces
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src", "perfbench/gen.py", "perfbench/workloads.py",
                "perfbench/run.py"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def start_process(cmd, cwd, log_path, env=None):
    """Starts `cmd` in its own process group, output to `log_path`."""
    with open(log_path, "w") as out:
        return subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)


def stop_process(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def wait_process(p, timeout_s, what):
    """Waits for `p`; kills its whole process group if it outlives
    `timeout_s`. Returns the exit code."""
    try:
        return p.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        stop_process(p)
        raise BenchError(f"{what} timed out after {timeout_s:.0f} s")


def run_process(cmd, cwd, log_path, timeout_s, env=None):
    return wait_process(start_process(cmd, cwd, log_path, env), timeout_s,
                        f"{cmd[0]} (log: {log_path})")


# ------------------------------------------------------------------ build

def source_digest(root):
    h = hashlib.sha256()
    h.update(f"sf={SF} parts={PARTS}".encode())
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def oracle_cache_key(sql):
    """An answer depends on the SQL and on the table contents, which
    gen.py defines at scale SF."""
    h = hashlib.sha256(f"sf={SF}\n{sql}\n".encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:24]


def build(root):
    """Compiles the library and the harness, records the classes a run
    loads into a class-data archive, and fills the oracle-answer cache,
    unless the same sources were built before. Returns the JVM classpath."""
    bdir = os.path.join(root, BUILD)
    stamp_path = os.path.join(bdir, "stamp")
    cp_path = os.path.join(bdir, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read().strip() == digest:
                with open(cp_path) as g:
                    return g.read().strip()
    t0 = time.time()
    log("building the library and the harness")
    build_log = os.path.join(bdir, "build.log")
    sbt_tmp = os.path.join(bdir, "sbt_tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # jars only: a class-data archive cannot cover class directories
    rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-J-XX:-UsePerfData", f"-Djava.io.tmpdir={sbt_tmp}",
                      f"-Djna.tmpdir={sbt_tmp}", "compile",
                      "export Runtime/fullClasspathAsJars"],
                     os.path.join(root, "perfbench"), build_log, BUILD_BUDGET_S)
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}):\n{tail(build_log)}")
    with open(build_log) as f:
        cps = [ln.strip() for ln in f if ".jar" in ln and os.pathsep in ln
               and not ln.startswith("[")]
    if not cps:
        raise BenchError(f"build printed no classpath:\n{tail(build_log)}")
    cp = cps[-1]

    inputs = os.path.join(bdir, "inputs")
    gen.write_inputs(inputs, 0, SF, PARTS)
    # one warm-up pass over every workload query, in the background while
    # DuckDB answers the oracles: the JVM writes the classes it loaded to
    # an archive that later runs map instead of loading them again
    archive = os.path.join(bdir, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    tmp = os.path.join(bdir, "archive_run")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    recorder = start_process(
        java_cmd(cp, "perfbench.Harness",
                 [os.path.join(inputs, "spark"), tmp, "0", "0", ",".join(all_queries())],
                 tmp, [f"-XX:ArchiveClassesAtExit={archive}"]),
        tmp, os.path.join(bdir, "archive.log"))
    try:
        fill_oracle_cache(root, cp, os.path.join(inputs, "oracle"),
                          t0 + BUILD_BUDGET_S - 60)
        wait_process(recorder, t0 + BUILD_BUDGET_S - time.time(), "class archive run")
    finally:
        stop_process(recorder)
    if not os.path.exists(archive):
        log("no class-data archive was written; runs load classes from the jars")
    shutil.rmtree(inputs)
    shutil.rmtree(tmp)
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def all_queries():
    return sorted({q for w in workloads.WORKLOADS for q in workloads.queries(w)})


def fill_oracle_cache(root, cp, tables_dir, deadline):
    """Runs every workload query's DuckDB oracle once on the benchmark
    tables and stores the answer, keyed by the SQL text. The tables' contents
    do not depend on the seed (only row order and file cuts do), so the
    answer holds for every seed; a query whose SQL is not in the cache is
    answered by running its SQL in the check itself. Answers already cached
    for the same SQL are kept."""
    import duckdb
    cdir = os.path.join(root, BUILD, "oracle_cache")
    os.makedirs(cdir, exist_ok=True)
    names = all_queries()
    rc = run_process(java_cmd(cp, "perfbench.OracleSql", [cdir, ",".join(names)], cdir),
                     cdir, os.path.join(cdir, "sql.log"), 120)
    if rc != 0:
        raise BenchError(f"oracle SQL export failed:\n{tail(os.path.join(cdir, 'sql.log'))}")
    with open(os.path.join(cdir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    missing = [n for n in names if n in sqls and not os.path.exists(
        os.path.join(cdir, oracle_cache_key(sqls[n]) + ".parquet"))]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for name in missing:
        if time.time() > deadline:
            break
        try:
            answer = con.execute(sqls[name]).fetch_arrow_table()
        except Exception as e:  # the check reports it when it runs the SQL
            log(f"oracle for {name} failed at build time: {e}")
            continue
        pq.write_table(answer, os.path.join(cdir, oracle_cache_key(sqls[name]) + ".parquet"))


# ------------------------------------------------------------------- run

def java_cmd(cp, main, args, tmp, jvm_opts=()):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no hsperfdata file: every file a run writes stays in the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens + list(jvm_opts)
            + ["-cp", cp, main] + list(args))


def generate(workdir, seed):
    """Writes the seeded inputs SETUP_REPEATS times; returns the median
    time of one generation and the row counts."""
    times, counts = [], None
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        counts = gen.write_inputs(os.path.join(workdir, "data"), seed, SF, PARTS)
        times.append(time.perf_counter() - t)
    return statistics.median(times), counts


def check_oracle(root, workdir):
    """Runs tools/check_oracle.py on the dumped results. Queries whose
    oracle answer is cached are checked against it. Returns {query: line}."""
    vdir = os.path.join(workdir, "verify")
    sql_path = os.path.join(vdir, "oracle_sql.json")
    with open(sql_path) as f:
        sqls = json.load(f)
    cdir = os.path.join(root, BUILD, "oracle_cache")
    for name, sql in sqls.items():
        cached = os.path.join(cdir, oracle_cache_key(sql) + ".parquet")
        if os.path.exists(cached):
            sqls[name] = f"SELECT * FROM read_parquet('{cached}')"
    with open(sql_path, "w") as f:
        json.dump(sqls, f)
    out_path = os.path.join(workdir, "oracle.log")
    run_process([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                 os.path.join(workdir, "data", "oracle"), vdir],
                root, out_path, 120)
    verdicts = {}
    with open(out_path) as f:
        for line in f:
            if line.startswith("[") and "]" in line:
                rest = line.split("]", 1)[1].strip()
                verdicts[rest.split(":", 1)[0]] = line.strip()
    return verdicts


def dumped_rows(workdir, name):
    files = glob.glob(os.path.join(workdir, "verify", name, "*.parquet"))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files) if files else None


def failures(raw, verdicts, workdir):
    """Every failed query execution as (query, pass, reason). The warm-up's
    result is checked against the oracle; every execution must return the
    row count of that checked result."""
    checked = {n: dumped_rows(workdir, n) for n in raw["queries"]}
    out = []
    for r in raw["query_runs"]:
        name = r["query"]
        if not r["ok"]:
            out.append((name, r["pass"], r["error"]))
        elif r["pass"] == 0 and not verdicts.get(name, "").startswith("[ OK ]"):
            out.append((name, 0, verdicts.get(name, "[MISS] no verdict")))
        elif r["rows"] != checked[name]:
            out.append((name, r["pass"], f"{r['rows']} rows, the checked "
                                         f"result has {checked[name]}"))
    return out


def run(root, args):
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    with open(os.path.join(root, BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        run_locked(root, args)


def run_locked(root, args):
    cp = build(root)
    workdir = os.path.join(root, BUILD, "run")
    shutil.rmtree(workdir, ignore_errors=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    names = workloads.queries(args.workload)
    modules = workloads.module_of(args.workload)

    started = time.time()
    gen_s, counts = generate(workdir, args.seed)
    launch_us = time.time() * 1e6
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    harness_log = os.path.join(workdir, "harness.log")
    archive = os.path.join(root, BUILD, ARCHIVE)
    jvm_opts = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    rc = run_process(java_cmd(cp, "perfbench.Harness",
                              [os.path.join(workdir, "data", "spark"), workdir,
                               str(args.seconds), str(args.trace), ",".join(names)],
                              tmp, jvm_opts),
                     workdir, harness_log,
                     RUN_BUDGET_S - 30 - (time.time() - started), env)
    if rc != 0:
        guard = [ln for ln in tail(harness_log, 200).splitlines()
                 if ln.startswith("perfbench:")]
        raise BenchError("\n".join(guard) if guard else
                         f"harness failed (exit {rc}):\n{tail(harness_log)}")
    with open(os.path.join(workdir, "raw.json")) as f:
        raw = json.load(f)
    oracle_t0 = time.time()
    verdicts = check_oracle(root, workdir)
    oracle_s = time.time() - oracle_t0

    failed_runs = failures(raw, verdicts, workdir)
    attempted = len(raw["query_runs"])

    untraced = [p for p in raw["passes"] if not p["traced"]]
    timed_batches = [b for b in raw["batches"]
                     if b["pass"] in {p["pass"] for p in untraced}]
    p50, tail_ms, tail_p, n_batches = analyze.batch_latency(timed_batches)
    e2e = {
        "setup_s": gen_s + (raw["warmup_end_us"] - launch_us) / 1e6,
        "pass_s": statistics.median(p["wall_s"] for p in untraced),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "sf": SF, "input_rows": counts, "queries": modules,
        "setup": {"generate_s": gen_s,
                  "jvm_to_session_s": (raw["session_us"] - raw["jvm_start_us"]) / 1e6,
                  "warmup_s": (raw["warmup_end_us"] - raw["start_us"]) / 1e6},
        "passes": raw["passes"],
        "batch_p50_ms": p50, "batch_tail_ms": tail_ms,
        "batch_tail_percentile": tail_p, "batches": n_batches,
        "oracle_s": oracle_s, "run_s": time.time() - started,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "fail_ratio": len(failed_runs) / attempted,
        "failures": failed_runs[:20],
        "oracle": verdicts,
        "query_runs": raw["query_runs"],
    }
    report.update(e2e)
    values = dict(e2e)
    if args.trace:
        layer, self_ok = analyze.per_layer(raw, modules)
        report["per_layer"] = layer
        report["self_time_within_pass"] = self_ok
        values = layer
    os.makedirs(os.path.join(root, BUILD, "results"), exist_ok=True)
    with open(os.path.join(root, BUILD, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(os.path.join(workdir, "data"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print("perfbench-report " + json.dumps(report, separators=(",", ":")))
    print(json.dumps(analyze.result_line(attempted, len(failed_runs), values,
                                         args.trace)))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            log(f"{rel} not found: run from the root of a full checkout")
            return 2
    try:
        run(root, args)
    except BenchError as e:
        log(str(e))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
