#!/usr/bin/env python3
"""graft benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (cached under perfbench/.build until a
source file changes). Each run generates its inputs from the seed, runs
the workload in one JVM with local[<cores>] task slots, checks the
outputs, and prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). A traced run also keeps its spans under
perfbench/.traces/. `--cores 1` gives the single-threaded reference run.
The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
# what a build depends on: the library, the benchmark and both build files
BUILD_INPUTS = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")] + \
    [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s",
    "op_p50_ms": "ms", "op_p90_ms": "ms",
}
# the registry modules query_mix has a key of (none of AnnPq, Rewrite, Graph)
MODULES = ["Scans", "Funcs", "Joins", "Aggs", "Windows", "SetSort", "Generators", "Llm",
           "TextOps", "DedupOps", "MediaOps", "Layout", "Behavior", "Bpe"]
PER_LAYER = {
    "ops.build_ms": "ms", "ops.build_jobs": "count", "ops.action_ms": "ms",
    **{f"ops.{m}_ms": "ms" for m in MODULES},
    "Tables.files_discovered": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.sched_delay_ms": "ms",
    "spark.task_run_ms": "ms", "spark.core_busy": "ratio", "spark.plan_ms": "ms",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms",
    "spark.shuffle_write_bytes": "B", "spark.input_bytes": "B",
    "stream.offset_ms": "ms", "stream.get_batch_ms": "ms", "stream.plan_ms": "ms",
    "stream.wal_ms": "ms", "stream.add_batch_ms": "ms", "stream.batches": "count",
    "stream.rows_per_batch": "rows", "stream.backlog_versions_max": "count",
    "gen.late_ms": "ms", "gen.commit_ms": "ms",
    "trace.covered_ratio": "ratio", "trace.op_p50_ms": "ms", "trace.throughput_per_s": "1/s",
    "txn.commit_jobs": "count", "txn.versions": "count", "txn.current_version_ms": "ms",
    "txn.files_written": "count", "txn.bytes_written_per_row": "B/row", "txn.space_amp": "ratio",
}
# the fixtures each workload reads
TABLES = {
    "query_mix": list(gen.SIZES),
    "stream_link": ["events"],
}
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for p in BUILD_INPUTS:
        if not os.path.exists(p):
            raise SystemExit(f"cannot build: {os.path.relpath(p, ROOT)} is missing; "
                             "run from the root of a full source checkout")
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the cached build matches the sources."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building library and benchmark with sbt")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def oracle_checks(data_dir, res_dir):
    """Each query_mix result against its DuckDB oracle over the same inputs:
    same column names, and the same rows with type-tagged values (so 5,
    5.0 and Decimal('5') never compare equal), in any row order."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in gen.SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def rows(rel_sql, cols):
        sel = ", ".join(f'"{c}"' for c in cols)
        out = [tuple((type(v).__name__, v) for v in r)
               for r in con.sql(f"SELECT {sel} FROM ({rel_sql}) _q").fetchall()]
        return sorted(out, key=repr)

    checks = []
    for key, sql in sorted(oracle.items()):
        try:
            spark_sql = f"SELECT * FROM read_parquet('{res_dir}/{key}/*.parquet')"
            s_cols = sorted(con.sql(spark_sql).columns)
            o_cols = sorted(con.sql(sql).columns)
            if s_cols != o_cols:
                checks.append((key, False, f"columns {s_cols} != oracle {o_cols}"))
                continue
            got, want = rows(spark_sql, s_cols), rows(sql, o_cols)
            first = next((i for i, (x, y) in enumerate(zip(got, want)) if x != y),
                         min(len(got), len(want)))
            checks.append((key, got == want, f"{len(got)} rows" if got == want else
                           f"{len(got)} rows vs oracle {len(want)}, first differing row {first}"))
        except Exception as e:  # a failing oracle or unreadable result is a failed check
            checks.append((key, False, f"check error: {e}"))
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()
    cp = classpath()
    t_start = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "results"))
    try:
        gen.write(a.seed, data, TABLES[a.workload])
        # no hsperfdata file in the system temp dir: the run writes only
        # inside the checkout
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + \
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS] + \
            ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--data", data, "--work", work, "--out", os.path.join(work, "result.json"),
             "--cores", str(a.cores)]
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as jl:
            budget = DEADLINE_S - (time.time() - t_start)
            proc = subprocess.Popen(cmd, cwd=work, stdout=jl, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            text = open(log_path, errors="replace").read()
            first = text.find("Exception in thread")
            sys.stderr.write(text[first:first + 3000] if first >= 0 else text[-6000:])
            raise SystemExit(f"workload JVM ended with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        for line in open(log_path, errors="replace"):
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
        log(f"workload JVM done at {time.time() - t_start:.1f} s")
        if a.workload == "query_mix":
            checks = [c for c in checks if not c[1]] + oracle_checks(data, os.path.join(work, "results"))
            log(f"oracle checks done at {time.time() - t_start:.1f} s")
        bad = [c for c in checks if not c[1]]
        for name, ok, detail in checks:
            log(f"{'PASS' if ok else 'FAIL'} {name}: {detail}")
        failed = res["failed"] + len(bad)
        if a.trace:
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as f:
                json.dump(res["per_layer"], f, indent=1, sort_keys=True)
        names = PER_LAYER if a.trace else END_TO_END
        src = res["per_layer"] if a.trace else res["end_to_end"]
        metrics = {n: {"value": src.get(n, 0.0), "unit": u} for n, u in names.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
