#!/usr/bin/env python3
"""Benchmark launcher for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the harness and graft from source
with sbt (skipped when the sources are unchanged since the last build),
starts one JVM running `perfbench.Main` for the workload, compares the
query_mix results with their DuckDB oracles, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics. Lines before it are the run's notes
(ledger tables, percentile and sample counts) and a provenance record.
"""
import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
DATA = BENCH / "data" / "sf0.1-sample"
WORKLOADS = ["zonal_scan", "zonal_resume", "cnn_segment", "query_mix"]
JVM_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    singles = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files = [f for f in singles if f.is_file()]
    for r in roots:
        if r.is_dir():
            files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft sources not found next to the benchmark (expected build.sbt and "
             "src/main/scala/graft at the repository root)", 2)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 2)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "sbt.log"
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or ".jar" not in cp or cp.startswith("["):
        tail = "\n".join(log.read_text().splitlines()[-30:])
        fail(f"build failed (sbt exit {p.returncode}); last lines of {log}:\n{tail}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


def heap_size():
    """Half of MemTotal in GiB, clamped to [2, 8] — the tier-1 sizing."""
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
                return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def provenance(stamp, cores, jvm_flags):
    commit = None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    cpu = ""
    try:
        for line in open("/proc/cpuinfo"):
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "git_commit": commit, "source_sha256": stamp, "host": platform.node(),
        "cpu": cpu, "nproc": os.cpu_count(), "k": cores,
        "java": java.splitlines()[0] if java else "", "jvm_flags": jvm_flags,
    }


def oracle_check(tables, results):
    """Compares each query_mix first result with its DuckDB oracle. Returns
    (attempted, list of mismatch messages)."""
    import duckdb
    con = duckdb.connect()
    for t in ["lineitem", "customer", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    sqls = json.loads((results / "oracle_sql.json").read_text())

    def canon(df):
        df = df[sorted(df.columns)].round(4)
        rows = df.astype(object).where(df.notna(), None).values.tolist()
        return sorted((tuple(r) for r in rows), key=repr)

    bad = []
    for q, sql in sqls.items():
        if sql.lstrip().upper().startswith("WITH RECURSIVE"):
            # DuckDB re-evaluates the plain CTEs of a recursive query on every
            # iteration; computing each once gives the same rows, much sooner
            sql = re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
        try:
            got = con.sql(f"SELECT * FROM '{results}/{q}/*.parquet'").df()
            exp = con.sql(sql).df()
            if sorted(got.columns) != sorted(exp.columns):
                bad.append(f"{q}: columns {sorted(got.columns)} != oracle {sorted(exp.columns)}")
            elif canon(got) != canon(exp):
                bad.append(f"{q}: {len(got)} rows differ from the DuckDB oracle's {len(exp)}")
        except Exception as e:  # an oracle that cannot run is a failed check
            bad.append(f"{q}: {type(e).__name__}: {e}")
    return len(sqls), bad


def expected_names(trace):
    """Metric name -> unit, from BENCHMARK.json at the repository root."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        fail(f"{f} not found", 2)
    spec = json.loads(f.read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--tables", type=Path, default=DATA,
                    help="directory of the query_mix tables (default: the sample kept here)")
    a = ap.parse_args()
    tables = a.tables.resolve()

    cp, stamp = build()
    cores = max(1, min(4, os.cpu_count() or 1))
    work = BENCH / "work" / f"{a.workload}-{os.getpid()}"
    out = BENCH / "out" / f"{a.workload}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out.mkdir(parents=True)
    heap = heap_size()
    jvm_flags = [f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        jvm_flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = ["java", *jvm_flags, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--data", str(tables), "--out", str(out),
           "--cores", str(cores)]
    log = out / "jvm.log"
    # a SIGTERM to the launcher must not leave the JVM running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"JVM did not finish within {JVM_TIMEOUT_S} s (log: {log})")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        res_file = out / "result.json"
        if rc != 0 or not res_file.is_file():
            tail = "\n".join(log.read_text(errors="replace").splitlines()[-40:])
            fail(f"JVM exited with {rc}; last lines of {log}:\n{tail}")
        res = json.loads(res_file.read_text())
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if a.workload == "query_mix":
            t0 = time.time()
            n, bad = oracle_check(tables, out / "mix_oracle")
            res["notes"].append(f"DuckDB oracle: {n} queries compared in {time.time() - t0:.1f} s")
            attempted += n
            failed += len(bad)
            errors += [f"oracle {b}" for b in bad]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers"] if a.trace else res["metrics"]
    units = expected_names(a.trace)
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        fail(f"metric names differ from BENCHMARK.json: missing {missing}, unexpected {extra}")
    nonfinite = sorted(k for k in units if values[k] is None)
    if nonfinite:
        fail(f"metrics without a value: {nonfinite}")

    for line in res["notes"]:
        print(f"# {line}")
    for e in errors:
        print(f"# ERROR {e}")
    print("# provenance " + json.dumps(provenance(stamp, cores, jvm_flags[:2])))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
