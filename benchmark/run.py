#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 benchmark/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark from source with sbt (the build reuses its output
while no source is newer). Each run starts one JVM, generates its inputs
from the seed inside the checkout, measures for about S seconds, checks
every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics of a traced run. The line before it holds the workload's own
figures under their descriptive names (see benchmark/METRICS.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("ingest", "curate")
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit; the list matches the
# repository's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def newest_source():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "build.sbt"),
                os.path.join(BENCH_DIR, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def classpath():
    """Builds the engine and the benchmark unless the last build is current;
    returns the runtime classpath."""
    stamp = os.path.join(build_dir(), "classpath.txt")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= newest_source():
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(build_dir(), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(build_dir(), "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=850)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def run_jvm(cp, args, work):
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", result]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=jvm_limit_s(args.seconds))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            tail_log(log_path)
            fail("run timed out")
    if not os.path.isfile(result):
        tail_log(log_path)
        fail(f"run failed (exit {proc.returncode})")
    with open(result) as f:
        out = json.load(f)
    if out["status"] != 0:
        tail_log(log_path)
    return out


def jvm_limit_s(seconds):
    """How long the measuring JVM may run: set-up, the measured phases
    (a share of --seconds each), the checks and shutdown, with a margin."""
    return 100 + 7 * seconds


def tail_log(path, n=40):
    with open(path, errors="replace") as f:
        lines = [l for l in f.read().splitlines() if "WARN" not in l]
    sys.stderr.write("\n".join(lines[-n:]) + "\n")


def check_oracles(out):
    """Each curation query's Spark row count against DuckDB's count of its
    oracle SQL over the same generated tables."""
    import duckdb
    con = duckdb.connect()
    for name in sorted(os.listdir(out["tables"])):
        t = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{out['tables']}/{name}/*.parquet')")
    attempted = failed = 0
    failures = []
    for name, sql in sorted(out["oracle"].items()):
        attempted += 1
        try:
            expected = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except duckdb.Error as e:
            expected = f"error: {e}"
        got = out["spark_counts"][name]
        if expected != got:
            failed += 1
            failures.append(f"{name}: spark {got} rows, duckdb {expected}")
    return attempted, failed, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}; run from a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)

    cp = classpath()
    work = os.path.join(build_dir(), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_jvm(cp, args, work)
        attempted, failed = out["attempted"], out["failed"]
        failures = list(out["failures"])
        if args.workload == "curate" and out["status"] == 0:
            a, f_, msgs = check_oracles(out)
            attempted, failed, failures = attempted + a, failed + f_, failures + msgs
    finally:
        log = os.path.join(work, "jvm.log")
        if os.path.isfile(log):
            shutil.copy(log, os.path.join(build_dir(), "last-run.log"))
        shutil.rmtree(work, ignore_errors=True)
    if out["status"] != 0:
        fail("the run raised an error; see the log above")

    ok_share = (attempted - failed) / attempted if attempted else 0.0
    detail = dict(out["detail"])
    detail["setup_s"] = out["end_to_end"]["setup_s"]
    detail["peak_live_mb"] = out["end_to_end"]["peak_live_mb"]
    detail["ok_share"] = {"value": ok_share, "unit": "share"}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "detail": detail, "per_layer": out["per_layer"],
                      "weather": out["weather"], "failures": failures,
                      "jvm_wall_s": out["wall_s"]}))

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = out["per_layer"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = out["end_to_end"]
    metrics = {}
    for name, unit in names:
        # A per-layer metric of a layer this workload does not run reads 0.
        value = source.get(name, {}).get("value", 0.0)
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
