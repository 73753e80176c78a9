#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark runner
from source on first use (sbt, offline), runs one workload in a fresh JVM inside
an empty working directory, checks correctness, and prints one JSON result
as the last line of standard output. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
The full run record is kept under perfbench/target/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import report

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "build.stamp")
# read-only input of corpus_ops: the shared parquet test tables (TESTDATA.md)
TESTDATA = os.path.join(os.path.expanduser("~"), "testdata")
WORKLOADS = ("kg_build", "kg_query", "corpus_ops")
JVM_OPTS = [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]
# pure-ALU iterations of the host-delivery probe (about 0.3 s on one core)
PROBE_N = 2_000_000


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found beside perfbench/")
    digest = sources_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp["digest"] == digest:
            return stamp["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g"))
    log("building engine + benchmark runner (sbt, offline) ...")
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        raise SystemExit("build failed, see perfbench/target/build.log")
    with open(STAMP, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def host_probe():
    """Wall seconds of a fixed single-core pure-ALU loop: a throttled host
    shows up as a slower probe before or after the run."""
    code = ("import time\nt=time.perf_counter()\nx=0\n"
            f"for i in range({PROBE_N}): x += i*i%7\n"
            "print(time.perf_counter()-t)")
    cmd = [sys.executable, "-c", code]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", "0"] + cmd
    return float(subprocess.run(cmd, capture_output=True, text=True,
                                check=True).stdout)


def oracle_gate(work):
    """corpus_ops: compare each Spark result with its DuckDB oracle over the
    same sampled tables, with the rules of tools/verify_local.py (columns
    sorted by name, floats rounded to 9 places, rows compared as sorted
    lists). Returns {query: error or None}."""
    import duckdb
    import pyarrow.parquet as pq

    def norm(v):
        return round(v, 9) if isinstance(v, float) else v

    def row_key(row):
        return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)

    data, gate = os.path.join(work, "data", "sf"), os.path.join(work, "gate")
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}/*.parquet')")
    with open(os.path.join(gate, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in sorted(oracle):
        if not os.path.exists(os.path.join(gate, name, "_SUCCESS")):
            out[name] = "no spark output"
            continue
        try:
            duck = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"duckdb error: {e}"
            continue
        spark = pq.read_table(os.path.join(gate, name))
        dcols, scols = sorted(duck.column_names), sorted(spark.column_names)
        if dcols != scols:
            out[name] = f"columns {scols} vs oracle {dcols}"
            continue
        drows = sorted([tuple(norm(r[c]) for c in dcols) for r in duck.to_pylist()], key=row_key)
        srows = sorted([tuple(norm(r[c]) for c in scols) for r in spark.to_pylist()], key=row_key)
        if drows != srows:
            out[name] = f"rows differ ({len(srows)} spark vs {len(drows)} oracle)"
            continue
        out[name] = None
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    work = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "record.json")
    try:
        probe_before = host_probe()
        t_jvm = time.perf_counter()
        cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-cp", classpath, "perfbench.Runner", a.workload, str(a.seed),
               str(a.seconds), str(a.trace), raw, TESTDATA])
        with open(os.path.join(work, "jvm.log"), "w") as jl:
            p = subprocess.run(cmd, cwd=work, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=165)
        jvm_s = time.perf_counter() - t_jvm
        probe_after = host_probe()
        if p.returncode != 0 or not os.path.exists(raw):
            with open(os.path.join(work, "jvm.log")) as jl:
                log(jl.read()[-3000:])
            raise SystemExit(f"benchmark JVM failed with exit code {p.returncode}")
        with open(raw) as f:
            rec = json.load(f)

        gate = {g["check"]: g["error"] for g in rec["gate"]}
        t_gate = time.perf_counter()
        if a.workload == "corpus_ops":
            for q, err in oracle_gate(work).items():
                gate[q] = gate.get(q) or err
        gate_s = time.perf_counter() - t_gate
        gate_failed = sum(1 for e in gate.values() if e)
        attempted = rec["attempted"] + len(gate)
        failed = rec["failed"] + gate_failed

        names = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        e2e, detail = report.end_to_end(rec)
        layers = report.per_layer(rec) if a.trace == 1 else {}
        # a layer this workload does not call reads 0
        values = e2e if a.trace == 0 else {n: layers.get(n, 0.0) for n in names}
        summary = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "host_probe_s": {"before": probe_before, "after": probe_after},
            "failed_ratio": failed / attempted, "errors": rec["errors"],
            "gate": gate, "setup_rounds_s": rec["setup_rounds"],
            "session_s": rec["session_s"], "jvm_s": jvm_s, "oracle_s": gate_s,
            "lap_walls_s": [l["wall_s"] for l in rec["laps"]], **detail,
            "end_to_end": e2e,
        }
        if a.trace == 1:
            summary["per_layer"] = layers
        os.makedirs(os.path.join(TARGET, "records"), exist_ok=True)
        with open(os.path.join(TARGET, "records",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(summary, f, indent=1)
        print(json.dumps(summary, sort_keys=True))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
