#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

usage (from the root of a repository checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and metrics are declared in BENCHMARK.json; perfbench/README.md
describes them. The program is compiled from the checkout's sources first
(perfbench/build.py). With --trace 0 the result holds every end-to-end
metric, with --trace 1 every per-layer metric (layers a workload does not
exercise report 0; the time of an ops query that failed is left out).

Options for the benchmark's own tests:
  --pages <n>                input size of the kg workloads
  --break-query <name>       make that ops query throw (traced kg_clean)
  --wrong-oracle <name>      give that ops query a wrong DuckDB oracle
  --expect-checksum <long>   expected result checksum (a wrong one makes
                             every timed iteration fail its check)
  --work <dir>               inputs, outputs and Spark scratch space
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# the harness's documents/embeddings tables the ops family runs over
OPS_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--pages", type=int)
    p.add_argument("--expect-checksum", type=int)
    p.add_argument("--break-query")
    p.add_argument("--wrong-oracle")
    p.add_argument("--work", default=os.path.join(build.BUILD_ROOT, "work"))
    return p.parse_args()


def run_jvm(classes: str, a, work: str) -> dict:
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    jvm = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        jvm += ["--add-opens", f"{m}=ALL-UNNAMED"]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--ops-data", OPS_DATA]
    for flag, v in (("--pages", a.pages), ("--expect-checksum", a.expect_checksum),
                    ("--break-query", a.break_query)):
        if v is not None:
            args += [flag, str(v)]
    cmd = jvm + ["-cp", build.classpath(classes), "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    lines = [line for line in out.splitlines() if line.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    return json.loads(lines[-1][len("PERFBENCH "):])


def ops_oracle_failures(in_dir: str, out_dir: str, names: list, wrong: str) -> dict:
    """Compares each named ops result with its DuckDB oracle (sorted columns,
    sorted rows, exact values); returns {name: message} for each mismatch.
    The oracle of `wrong` is made to return every row twice."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if wrong in oracle:
        oracle[wrong] = f"SELECT * FROM ({oracle[wrong]}) UNION ALL SELECT * FROM ({oracle[wrong]})"
    failures = {}
    for name in sorted(names):
        sql = oracle[name]
        try:
            exp = con.sql(sql).df()
            got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            cols = sorted(exp.columns)
            if sorted(got.columns) != cols:
                failures[name] = f"columns {sorted(got.columns)} != {cols}"
                continue
            exp = exp[cols].sort_values(by=cols).reset_index(drop=True)
            got = got[cols].sort_values(by=cols).reset_index(drop=True)
            if len(exp) != len(got) or not exp.equals(got):
                failures[name] = f"{len(got)} rows differ from the oracle's {len(exp)}"
        except Exception as e:  # noqa: BLE001
            failures[name] = str(e)
    return failures


def main() -> int:
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("perfbench: run from the repository root (BENCHMARK.json not found)")
    spec = json.load(open("BENCHMARK.json"))
    a = parse_args()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    classes = build.build()

    work = os.path.abspath(a.work)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    r = run_jvm(classes, a, work)
    if "ops_out" in r:
        # only queries that ran have a time; a result the oracle rejects
        # is a failed operation, and its time is withheld
        ran = [k[len("ops."):-len(".s")] for k in r["metrics"]
               if k.startswith("ops.q_") and k.endswith(".s")]
        bad = ops_oracle_failures(r["ops_in"], r["ops_out"], ran, a.wrong_oracle)
        for name, msg in sorted(bad.items()):
            r["errors"].append(f"ops oracle {name}: {msg}")
            del r["metrics"][f"ops.{name}.s"]
        r["failed"] += len(bad)
        r["correct"] = r["correct"] and not bad
    for e in r.get("errors", []):
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    ops_ran = "ops_out" in r
    metrics = {}
    for m in wanted:
        got = r["metrics"].get(m["name"])
        if got is None:
            if ops_ran and m["name"].startswith("ops.q_"):
                continue  # the query failed: it has no time
            if a.trace:  # a layer this workload does not exercise
                got = {"value": 0, "unit": m["unit"]}
            elif r["attempted"] > r["failed"]:
                sys.exit(f"perfbench: metric {m['name']} missing")
            else:  # no iteration passed: no time to report
                continue
        if got["unit"] != m["unit"]:
            sys.exit(f"perfbench: {m['name']} unit {got['unit']} != {m['unit']}")
        if got["value"] is None:
            got = {"value": 0, "unit": m["unit"]}
        metrics[m["name"]] = got
    print(json.dumps({"correct": bool(r["correct"]),
                      "attempted": int(r["attempted"]), "failed": int(r["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
