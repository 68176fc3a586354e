#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): orc_ingest, relational_scan,
index_serving. Builds the library and the benchmark from source on first
use (perfbench/build.py), then runs the workload in one fresh JVM on
Spark local[n], n = nproc or $PERFBENCH_CORES (a whole number, at most
nproc). Everything the run writes goes under a fresh directory in
.bench_run/ that is deleted at exit; traced runs also leave their spans
in .bench_out/.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {name: {"value", "unit"}}}
holding the end-to-end metrics (--trace 0) or the per-layer ones
(--trace 1). The line before it holds the full result: workload-specific
figures, input sizes, core count, Spark master, tail percentile and
sample counts.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("orc_ingest", "relational_scan", "index_serving")
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions; the same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    """nproc, or a whole-number override no larger than it."""
    nproc = len(os.sched_getaffinity(0))
    raw = os.environ.get("PERFBENCH_CORES")
    if raw is None:
        return nproc
    if not raw.isdigit() or not 1 <= int(raw) <= nproc:
        raise SystemExit(f"PERFBENCH_CORES must be a whole number from 1 to {nproc}, got {raw!r}")
    return int(raw)


def load_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def oracle_failures(sidecar):
    """relational_scan: compare each key's result with its oracle SQL run
    in DuckDB over the same generated parquet; return the mismatching
    keys. Every op runs every key, so one mismatch fails every op."""
    import duckdb
    import pandas as pd

    with open(sidecar) as f:
        side = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("lineitem", "orders", "customer", "nation", "region", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{side['data_dir']}/{t}.parquet/*.parquet')")

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype.kind in "fiu" or df[c].map(lambda v: isinstance(v, (int, float))).all():
                df[c] = df[c].astype("float64").round(9)
        return df.reset_index(drop=True)

    bad = []
    for key, res in side["results"].items():
        mine = norm(pd.DataFrame(res["rows"], columns=res["columns"]))
        want = norm(con.sql(side["oracle_sql"][key]).df())
        if list(mine.columns) != list(want.columns) or not mine.equals(want):
            bad.append(key)
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    n = cores()
    try:
        e2e_spec, layer_spec = load_metrics()
        classpath = build.build()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        raise SystemExit(f"cannot run the benchmark here: {e}")

    run_root = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(run_root, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
    # C1 only: a run lives well under a minute, too short for C2 to finish.
    # With C2 the compiler threads took about one CPU-second per 0.5 s
    # ingest batch and ops kept speeding up through the loop, so a run's
    # median depended on how many ops it fitted in; with C1 ops are flat
    # after the second, and the JVM leaves cores free for Spark's tasks.
    cmd = (["java", "-XX:TieredStopAtLevel=1", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cores", str(n), "--root", run_root, "--out", out])
    log_path = os.path.join(run_root, "jvm.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_root)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write(open(log_path).read()[-6000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        failed = res["failed"]
        if a.workload == "relational_scan":
            bad = oracle_failures(out + ".relational.json")
            res["detail"]["oracle_mismatched_keys"] = bad
            if bad:
                failed = res["attempted"]
            res["detail"]["failed_op_ratio"] = failed / max(1, res["attempted"])
        if a.trace == "1" and os.path.isfile(out + ".spans.jsonl"):
            shutil.copy(out + ".spans.jsonl",
                        os.path.join(out_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_root))
        except OSError:
            pass  # another run's directory is still there

    values = res["per_layer"] if a.trace == "1" else res["end_to_end"]
    spec = layer_spec if a.trace == "1" else e2e_spec
    # a layer the workload does not run did no work: 0 on the per-layer line
    metrics = {m["name"]: {"value": values[m["name"]] if a.trace == "0" else values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in spec}
    res["failed"] = failed
    print(json.dumps(res, sort_keys=True))
    print(json.dumps({"correct": failed == 0 and res["attempted"] >= 1,
                      "attempted": res["attempted"], "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
