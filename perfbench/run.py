#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_stream, query_heavy (see perfbench/README.md).
Builds the program on first use, generates the workload's inputs from the
seed, runs one JVM, checks every output (queries against the DuckDB oracle,
ingest exactly-once inside the JVM), prints each metric with its unit, and
ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end set; with --trace 1 the
per-layer set. Exits non-zero on any failure or mismatch.
"""
import argparse
import json
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402

# Table scale per workload (sf=0.01 is 60k lineitem rows); the ingest
# workload reads only `events` (100k rows at sf=0.1).
SCALE = {"ingest_stream": 0.1, "query_heavy": 0.01}

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    # A fixed young generation keeps the peak resident set from following the
    # collector's adaptive sizing from run to run.
    "-Xmx4g", "-Xmn1g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false"]


def git_sha() -> str:
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return "unknown"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        p = ROOT / ".git" / ref[5:]
        return p.read_text().strip() if p.exists() else "unknown"
    return ref


def oracle_failures(data: pathlib.Path, out: pathlib.Path, oracle: dict, mix: list) -> dict:
    """Compares each query's output with its DuckDB oracle by the rules of
    scripts/check.py --strict (the loose value compare, then the strict
    hash-style compare)."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import check
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = {}
    for name in mix:
        sql = oracle.get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'")
            g_cols = [d[0] for d in got.description]
            g_rows = got.fetchall()
            exp = con.execute(sql)
            e_cols = [d[0] for d in exp.description]
            e_rows = exp.fetchall()
        except Exception as e:  # noqa: BLE001 - any error is a mismatch
            bad[name] = f"exec error: {e}"
            continue
        if check.canon(g_rows, g_cols) != check.canon(e_rows, e_cols):
            bad[name] = f"value mismatch ({len(g_rows)} vs {len(e_rows)} rows)"
            continue
        why = check.strict_check(con, name, sql, str(out))
        if why is not None:
            bad[name] = f"strict: {why}"
    return bad


def end_to_end(workload: str, m: dict) -> dict:
    """The workload's figures under the benchmark's end-to-end names."""
    cpu = m["ingest_cpu_s_per_mmsg"] if workload == "ingest_stream" else m["query_cpu_s"]
    return {"cpu_s_per_unit": cpu, "peak_rss_mb": m["peak_rss_mb"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    classes = build.build()
    start = time.time()  # set-up is timed from here; the one-time compile is not
    cpu_start = time.process_time()
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    gen.write(str(data), a.seed, SCALE[a.workload], events_only=a.workload == "ingest_stream")

    gen_cpu = time.process_time() - cpu_start
    result_file = work / "result.json"
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{build.spark_jars()}:{classes}", "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(data), "--work", str(work),
        "--out", str(result_file)]
    with open(work / "jvm.log", "w") as log:
        rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work).returncode
    if rc != 0 or not result_file.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.stderr.write(f"\nbenchmark JVM failed with code {rc}\n")
        return 1
    r = json.loads(result_file.read_text())
    failures = dict(r["failures"])
    if a.workload != "ingest_stream":
        failures.update(oracle_failures(data, work / "out", r["detail"]["oracle_sql"], r["detail"]["mix"]))

    if a.trace:
        metrics = {x["name"]: (r["layers"].get(x["name"], 0.0), x["unit"]) for x in spec["per_layer"]}
    else:
        e = end_to_end(a.workload, r["metrics"])
        # Set-up is gated as CPU time (input generation, then the JVM up to
        # its first timed operation): its wall time follows the host's speed.
        e["setup_s"] = gen_cpu + r["setup_cpu_s"]
        r["metrics"]["setup_wall_s"] = r["setup_end_epoch_us"] / 1e6 - start
        metrics = {x["name"]: (e[x["name"]], x["unit"]) for x in spec["end_to_end"]}
    failed = len(failures)
    attempted = r["attempted"]
    correct = failed == 0

    runs = ROOT / ".bench_runs"
    runs.mkdir(exist_ok=True)
    artifact = dict(r, git_sha=git_sha(), trace=a.trace, failures=failures,
                    fail_frac=failed / attempted, reported=metrics)
    (runs / f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json").write_text(
        json.dumps(artifact, indent=1, default=str))

    for name, (v, unit) in metrics.items():
        print(f"{name:28s} {v:14.6f} {unit}")
    for name, v in sorted(r["metrics"].items()):  # wall-time figures, ungated
        unit = "msgs/s" if name.endswith("_per_s") else "MB" if name.endswith("_mb") else "s"
        print(f"  {name:26s} {v:14.6f} {unit}")
    for name, why in sorted(failures.items())[:50]:
        print(f"FAIL {name}: {why}", file=sys.stderr)
    print(f"{a.workload}: {failed} of {attempted} failed "
          f"({'ingest' if a.workload == 'ingest_stream' else 'query'}_fail_frac={failed / attempted:.6f})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
