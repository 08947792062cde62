#!/usr/bin/env python3
"""Pipeline benchmark: medallion batch, streaming replay and operator mix.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_batch --seed 1 \
        --seconds 5 --trace 0

Builds the program and the benchmark from source when they changed
(perfbench/build.sh, output under $CARGO_TARGET_DIR or .bench_build),
runs one workload in one JVM (perfbench/scala, graft.perfbench.Main),
checks its outputs against DuckDB, and prints one JSON object as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a traced pass plus the tracing overhead. The line
before it is the run's provenance (steal, source identity, Spark conf,
host-independent counters, generator parameters).
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

import duckdb

WORKLOADS = ("pipeline_batch", "operator_mix")
# A run whose CPUs lost more than this share of time to other guests is
# flagged: its wall times are not comparable with a clean run's.
STEAL_THRESHOLD = 0.015
# operator_mix tables: byte copies of the shipped sf0.1 tables the mix
# reads, generated at seed 42, whatever --seed is
MIX_TABLES_DIR = os.path.join("perfbench", "sf0.1")
MIX_TABLES = ("events", "documents", "embeddings")
# a run must end within 180 s, the build excepted
RUN_BUDGET_S = 175
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_times():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return sum(fields[:8]), fields[7]


def source_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        for d, _, files in sorted(os.walk(top)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(build_dir, digest):
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["bash", "perfbench/build.sh", build_dir],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def run_jvm(args, trace, build_dir, work, cores, timeout):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JAVA_OPENS, "-Xmx2g", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UseCodeCacheFlushing", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{build_dir}/classes:{jars}/*", "graft.perfbench.Main",
           args.workload, str(args.seed), str(args.seconds),
           str(trace), work, str(cores), os.path.abspath(MIX_TABLES_DIR)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}")


# ---------------------------------------------------------------- checks

def wire_sql(wire_dir):
    cols = ("datetime VARCHAR, location_id BIGINT, location_name VARCHAR, "
            "country VARCHAR, latitude DOUBLE, longitude DOUBLE, "
            "parameter VARCHAR, value DOUBLE, value_standard DOUBLE, "
            "unit VARCHAR, aqi DOUBLE, aqi_category VARCHAR, "
            "ingestion_timestamp VARCHAR")
    struct = "{" + ", ".join(
        f"'{c.split()[0]}': '{c.split()[1]}'" for c in cols.split(", ")) + "}"
    return (f"SELECT CAST(datetime AS TIMESTAMP) AS datetime, location_id, "
            f"location_name, country, latitude, longitude, parameter, value, "
            f"value_standard, unit, aqi, aqi_category, "
            f"CAST(ingestion_timestamp AS TIMESTAMP) AS ingestion_timestamp "
            f"FROM read_json('{wire_dir}/*.json', "
            f"format='newline_delimited', columns={struct})")


def gold_digest(con, relation):
    """Row count and md5 of a Gold relation in an exact canonical form:
    every value rendered by DuckDB from the stored double, the
    (parameter, value) pairs sorted, rows ordered by (location, hour)."""
    cols = " || '|' || ".join(
        f"coalesce(CAST({c} AS VARCHAR), 'NULL')" for c in (
            "CAST(datetime AS TIMESTAMP)", "location_id", "location_name",
            "country", "latitude", "longitude", "year", "month", "day", "aqi",
            "aqi_category"))
    pairs = ("array_to_string(list_sort(list_transform("
             "range(1, len(parameters) + 1), k -> parameters[k] || '=' || "
             "CAST(\"values\"[k] AS VARCHAR))), ';')")
    return con.execute(
        f"SELECT count(*), md5(string_agg({cols} || '|' || {pairs}, chr(10) "
        f"ORDER BY location_id, datetime)) FROM ({relation})").fetchone()


def pipeline_checks(res, work):
    """Layer row counts and the Gold hash must match DuckDB running the
    program's SQL twins (Bronze.sqlFromWire, Silver.sqlFromBronze,
    PipelineQueries.goldSql) over the same wire JSON."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("CREATE TABLE wire AS " + wire_sql(os.path.join(work, "wire")))
    sql = res["sql"]
    ctes = (f"WITH bronze AS ({sql['bronze']}), silver AS ({sql['silver']}), "
            f"gold AS ({sql['gold']}) ")
    results = []
    counts = res["layer_counts"]
    for layer in ("bronze", "silver", "gold"):
        got = counts.get(layer)
        exp = con.execute(ctes + f"SELECT count(*) FROM {layer}").fetchone()[0]
        results.append((f"{layer} rows {got} == duckdb {exp}", got == exp))
    exp = gold_digest(con, ctes + "SELECT * FROM gold")
    got = gold_digest(con, "SELECT * FROM read_parquet('"
                      + os.path.join(res["layers_dir"], "gold")
                      + "/**/*.parquet', hive_partitioning = true)")
    results.append((f"gold hash {got} == duckdb {exp}", got == exp))

    # Stream Gold equals batch Gold on the hours the watermark closed:
    # batch over every on-time row, null-AQI rows dropped as the stream
    # Gold does (StreamPipeline.goldStream), up to the last emitted hour.
    stream = ("SELECT * FROM read_parquet('"
              + os.path.join(work, "stream", "out", "gold")
              + "/**/*.parquet', hive_partitioning = true)")
    last = con.execute(f"SELECT max(datetime) FROM ({stream})").fetchone()[0]
    con.execute("CREATE TABLE ontime AS " + wire_sql(
        os.path.join(work, "stream_ontime")))
    batch = (f"WITH bronze AS ({sql['bronze'].replace('FROM wire', 'FROM ontime')}), "
             f"silver AS (SELECT * FROM ({sql['silver']}) WHERE aqi IS NOT NULL), "
             f"gold AS ({sql['gold']}) "
             f"SELECT * FROM gold WHERE datetime <= TIMESTAMP '{last}'")
    if last is None:
        results.append(("stream gold emitted no closed hour", False))
    else:
        got, exp = gold_digest(con, stream), gold_digest(con, batch)
        results.append((f"stream gold {got} == batch gold {exp} on hours "
                        f"closed by the watermark (through {last})",
                        got == exp))
    return results


def mix_checks(res):
    """Each operator_mix query against its SparkEntry.oracleSql twin, by
    scripts/selfcheck.py's compare rule."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join("scripts", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    # views over the tables the benchmark ships; the mix reads no other
    selfcheck.TABLES = MIX_TABLES
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        selfcheck.main(res["mix_dir"], res["tables_dir"])
    lines = [ln for ln in buf.getvalue().splitlines()
             if ln.startswith(("OK", "FAIL"))]
    return [(ln, ln.startswith("OK")) for ln in lines]


# ---------------------------------------------------------------- main

def run_once(args, trace, build_dir, work, cores, deadline):
    """One JVM run and the DuckDB checks. Returns the JVM's result, the
    check verdicts and the steal fraction of the window."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    total0, steal0 = cpu_times()
    run_jvm(args, trace, build_dir, work, cores, deadline - time.time())
    total1, steal1 = cpu_times()
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    res["generator"]["mix_tables"] = {
        "dir": MIX_TABLES_DIR, "seed": 42, "sf": 0.1,
        "rows": {t: duckdb.sql(
            f"SELECT count(*) FROM '{MIX_TABLES_DIR}/{t}.parquet'"
        ).fetchone()[0] for t in MIX_TABLES},
        "note": "operator_mix tables are the shipped sf0.1 tables, fixed "
                "at seed 42; --seed does not apply to them"}
    checks = pipeline_checks(res, work) + mix_checks(res)
    for name, ok in checks:
        if not ok:
            print(f"perfbench: CHECK FAILED {name}", file=sys.stderr)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    return res, checks, (steal1 - steal0) / max(1, total1 - total0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    for need in ("src/main/scala", "scripts/selfcheck.py",
                 "perfbench/build.sh", "perfbench/scala", MIX_TABLES_DIR):
        if not os.path.exists(need):
            fail(f"{need} not found: run from the repository root")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""),
                                      "jars")):
        fail("SPARK_HOME must point at a Spark 4 installation")
    build_dir = os.path.abspath(os.path.join(
        os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    digest = source_digest(["src/main/scala", "perfbench/scala",
                            "perfbench/build.sh"])
    build(build_dir, digest)
    deadline = time.time() + RUN_BUDGET_S
    work = os.path.join(build_dir, "work")
    cores = len(os.sched_getaffinity(0))

    res, checks, steal = run_once(args, args.trace, build_dir, work, cores,
                                  deadline)
    # The baseline of the tracing overhead: after the traced run, one
    # untraced run with the same seed.
    if args.trace:
        base_work = work + "_untraced"
        base, base_checks, _ = run_once(args, 0, build_dir, base_work,
                                        cores, deadline)
        checks += base_checks
        res["attempted"] += base["attempted"]
        res["failed"] += base["failed"]
        shutil.rmtree(base_work, ignore_errors=True)

    bad = [name for name, ok in checks if not ok]
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(bad)
    if steal > STEAL_THRESHOLD:
        print(f"perfbench: steal {steal:.2%} above {STEAL_THRESHOLD:.1%}: "
              "wall times of this run are contended", file=sys.stderr)
    if args.trace:
        metrics = dict(res["per_layer"])
        for k, m in res["end_to_end"].items():
            metrics[f"overhead.{k}"] = {
                "value": m["value"] - base["end_to_end"][k]["value"],
                "unit": m["unit"]}
        metrics["error_rate"] = {"value": failed / attempted,
                                 "unit": "ratio"}
    else:
        metrics = res["end_to_end"]
    provenance = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "wall_s": round(time.time() - start, 3),
        "steal_fraction": steal, "steal_flagged": steal > STEAL_THRESHOLD,
        "git_commit": git_commit(), "source_sha256": digest,
        "spark_conf": res["spark_conf"], "counters": res["counters"],
        "samples": res["samples"], "generator": res["generator"],
        "forecast": res["forecast"], "layer_counts": res["layer_counts"],
        "error_rate": failed / attempted,
        "checks": [{"check": n, "ok": ok} for n, ok in checks],
    }
    if args.trace:
        provenance["end_to_end_traced"] = res["end_to_end"]
        provenance["end_to_end_untraced"] = base["end_to_end"]
    with open(os.path.join(build_dir, f"last_{args.workload}.json"),
              "w") as f:
        json.dump({"provenance": provenance, "metrics": metrics}, f,
                  indent=1)
    shutil.copy(os.path.join(work, "jvm.log"),
                os.path.join(build_dir, f"last_{args.workload}.log"))
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
