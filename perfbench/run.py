#!/usr/bin/env python3
"""The benchmark's one command. From the root of a checkout:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 6 --trace 0

It builds the engine and the benchmark from source (once per source state,
into .bench_build/), generates the workload's inputs from the seed, runs the
workload in one JVM on local[4], checks the outputs (for near_dup also its
graph query against the DuckDB oracle) and prints, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. The
lines before it print the same run's metrics under their workload-level
names (rows_per_s, job_s_p50, docs_per_s, lsh_recall, ...).

Exit code 0 when the result is correct, 1 when a check failed (the result
line is still printed), 2 or more when no result could be produced.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("etl_bulk", "etl_jobs", "near_dup")
# per-layer metric prefixes each workload reports; the rest read 0 there,
# because that layer does no work in that workload
LAYERS = {
    "etl_bulk": ("pipeline.parse_s", "pipeline.rows_", "pipeline.full_s",
                 "shops.", "calculate_fields.", "functions.", "quality.",
                 "dedupe.", "sinks.json_", "sinks.error_", "jobs."),
    "etl_jobs": ("sinks.upsert_", "pipeline.changed_", "jobs.", "functions."),
    "near_dup": ("similarity.", "queries."),
}
COMMON = ("spark.", "jvm.", "traced.")
JVM_MEM = "3g"
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


T0 = time.time()


def progress(msg):
    print(f"[run.py {time.time() - T0:.1f}s] {msg}", file=sys.stderr)


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.abspath(__file__),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile and package once per source state; returns the runtime
    classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    # resolve from the local caches only, as the engine's own build does
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    with open(log, "w") as f:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "export Runtime/fullClasspathAsJars"], cwd=HERE,
                               stdout=subprocess.PIPE, stderr=f, text=True,
                               timeout=BUILD_TIMEOUT, env=env)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(3, f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench_" not in lines[-1]:
        with open(log, "a") as f:
            f.write(p.stdout)
        errors = [l for l in p.stdout.splitlines() if l.startswith("[error]")]
        die(3, f"build failed (exit {p.returncode}); see {log}\n" + "\n".join(errors[:20]))
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, inputs, work):
    """One benchmark JVM; returns the path of its result file."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_MEM}", f"-Djava.io.tmpdir={tmp}",
                    f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    "-cp", cp, "perfbench.Main",
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--inputs", inputs, "--work", work, "--out", result_file])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(4, f"run exceeded {RUN_TIMEOUT} s; see {work}/jvm.log")
    progress(f"JVM exited with {rc}")
    if rc != 0 or not os.path.exists(result_file):
        die(4, f"JVM exited with {rc}; see {work}/jvm.log")
    return result_file


# ---- DuckDB oracle

def oracle_failures(tables_dir, results_dir):
    """Names of queries whose Spark result differs from the DuckDB oracle,
    compared with the engine's own dev/check_oracle.py rules. Imported here,
    so the ETL workloads do not need duckdb or pandas."""
    sys.path.insert(0, os.path.join(os.getcwd(), "dev"))
    import check_oracle
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in glob.glob(os.path.join(tables_dir, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no Spark output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[name] = f"oracle SQL error: {e}"
            continue
        (gn, gr), (wn, wr) = check_oracle.canon(got), check_oracle.canon(want)
        if gn != wn:
            bad[name] = f"columns differ: {gn} vs {wn}"
        elif gr != wr:
            diff = sum(a != b for a, b in zip(gr, wr)) + abs(len(gr) - len(wr))
            bad[name] = f"{diff} of {len(wr)} rows differ"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    bench_file = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, "src/main/scala/graft"))
            and os.path.exists(bench_file)):
        die(2, "run from the root of an engine checkout (src/main/scala/graft "
               "and BENCHMARK.json not found)")
    if not os.environ.get("SPARK_HOME"):
        die(2, "SPARK_HOME is not set")
    with open(bench_file) as f:
        spec = json.load(f)
    out = os.path.join(root, ".bench_build")
    cp = build(root, out)
    progress("build ready")

    # only the latest run's files are kept (for its logs), so a checkout
    # that runs the benchmark many times does not fill up
    shutil.rmtree(os.path.join(out, "runs"), ignore_errors=True)
    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    inputs = os.path.join(work, "inputs")
    gen.generate(a.workload, a.seed, inputs)
    progress("inputs generated")

    result_file = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, inputs, work)
    with open(result_file) as f:
        res = json.load(f)

    problems = list(res["problems"])
    failed = set(res["failed_ops"])
    attempted = res["attempted"]
    if a.workload == "near_dup":  # the oracle comparison counts as one operation
        attempted += 1
        for q, why in oracle_failures(inputs, os.path.join(work, "results")).items():
            problems.append(f"{q}: differs from the DuckDB oracle: {why}")
            failed.add("oracle")
    got = dict(res["metrics"])
    got["ok_frac"] = (attempted - len(failed)) / attempted if attempted else 0.0
    if a.trace:
        got["traced.items_per_s"] = got["items_per_s"]
        got["traced.op_s_p50"] = got["op_s_p50"]

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    mine = LAYERS[a.workload] + COMMON
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if a.trace and not m["name"].startswith(mine):
                v = 0.0
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        die(5, f"metrics not produced: {missing}; see {work}/jvm.log")

    progress("checks done")
    for p in problems:
        print(f"check failed: {p}")
    for k, v in res["named"].items():
        print(f"{a.workload} {k} = {v['value']} {v['unit']}")
    correct = not problems and not failed
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
