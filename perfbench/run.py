#!/usr/bin/env python3
"""graft benchmark harness.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the harness (perfbench/build.sbt) from source; later runs reuse the
build while the sources are unchanged. One JVM runs the workload
(perfbench/src/main/scala/perfbench/Main.scala); this script then runs
the output checks that live outside the JVM (the DuckDB oracle for
batch_curation), prints every metric by name with its unit, and ends
with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics of a traced run (and the tracing overhead against the last
untraced run of the same workload and seed, when there is one).

Environment: SPARK_GRAFT_SF_DIR (corpus, default $HOME/testdata/sf0.1),
SPARK_GRAFT_CPUS (local[N], default nproc), SPARK_DRIVER_MEM (heap,
default 3g).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
OUT = HERE / ".out"
WORK = HERE / ".work"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit (same list as graft's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Runnable by hand, not listed in BENCHMARK.json: one run costs time the
# benchmark's run budget does not have (see README.md).
EXTRA_WORKLOADS = {"queue_mixed"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: graft's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             ROOT / "project" / "build.properties",
             HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt (offline), once per source
    state; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        fail(f"no classpath in build output, see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, args, work, result):
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", str(result), "--sf", args.sf])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = OUT / f"{args.workload}-{args.seed}-t{args.trace}.log"
    # Spark's scratch space stays in the run's directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S} s, see {log}")
    if rc != 0 or not result.exists():
        fail(f"workload JVM exited with {rc}, see {log}")


# ---- batch_curation output check: Spark result vs DuckDB oracle ----

def oracle_gate():
    """graft's own oracle comparison (tools/check_oracle.py), loaded read
    only so the benchmark normalizes rows exactly as the gate does."""
    path = ROOT / "tools" / "check_oracle.py"
    if not path.exists():
        fail(f"{path} not found")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    return gate


def oracle_checks(results_dir, sf):
    """Compare each Spark result with its oracle SQL run in DuckDB: same
    columns, no decimal/non-decimal drift, and the same rows as a
    multiset, normalized by graft's oracle gate."""
    import duckdb
    import pyarrow.parquet as pq
    gate = oracle_gate()
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for t in gate.TABLES:
        p = Path(sf) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for d in sorted(p for p in Path(results_dir).iterdir() if p.is_dir()):
        sql_file = Path(results_dir) / f"{d.name}.sql"
        name = f"{d.name} result equals its DuckDB oracle"
        if not sql_file.exists():
            checks.append({"check": name, "ok": False, "info": "no oracle"})
            continue
        try:
            stbl = pq.read_table(d)
            dtbl = con.execute(sql_file.read_text()).fetch_arrow_table()
            scols, srows = gate.table_rows(stbl)
            dcols, drows = gate.table_rows(dtbl)
            drift = gate.type_drift(scols, stbl, dtbl) if scols == dcols else []
            if scols != dcols:
                ok, info = False, f"columns {scols} != {dcols}"
            elif drift:
                ok, info = False, f"decimal/non-decimal type drift: {drift}"
            else:
                ok = sorted(srows) == sorted(drows)
                info = f"rows differ: spark {len(srows)}, duckdb {len(drows)}"
        except Exception as e:  # a broken oracle or result is a failed check
            ok, info = False, str(e)[:300]
        checks.append({"check": name, "ok": ok, "info": "" if ok else info})
    return checks


# ---- reporting ----

def spec_metrics(kind):
    return {m["name"]: m for m in SPEC[kind]}


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1")))
    args = ap.parse_args()

    if SPEC is None:
        fail("BENCHMARK.json not found at the checkout root")
    if args.workload not in {w["name"] for w in SPEC["workloads"]} | EXTRA_WORKLOADS:
        fail(f"unknown workload {args.workload}")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    if not (Path(args.sf) / "documents.parquet").exists():
        fail(f"corpus {args.sf} not found (set SPARK_GRAFT_SF_DIR)")

    t_start = time.time()
    cp = build()
    OUT.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = WORK / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = OUT / f"{tag}.json"
    result_file.unlink(missing_ok=True)
    try:
        run_jvm(cp, args, work, result_file)
        res = json.loads(result_file.read_text())
        results_dir = res["detail"].pop("oracle_results_dir", None)
        if results_dir:
            t0 = time.time()
            for c in oracle_checks(results_dir, args.sf):
                res["checks"].append(c)
                res["attempted"] += 1
                res["failed"] += 0 if c["ok"] else 1
            res["detail"]["oracle_check_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["detail"]["harness_s"] = time.time() - t_start
    kind = "per_layer" if args.trace else "end_to_end"
    wanted = spec_metrics(kind)
    values = res["layer"] if args.trace else res["metrics"]
    if args.trace:
        # a layer the workload does not reach reads 0; a layer it reaches
        # must report every one of its metrics
        reached = {m.split(".")[0] for m in values}
        for m in wanted:
            if m.split(".")[0] not in reached:
                values[m] = 0.0
    missing = [m for m in wanted if m not in values or values[m] is None]
    bad = [c for c in res["checks"] if not c["ok"]]
    res["failed_ops_ratio"] = res["failed"] / max(1, res["attempted"])

    # tracing overhead: traced minus untraced end-to-end numbers
    if args.trace:
        base = OUT / f"{args.workload}-{args.seed}-t0.json"
        if base.exists():
            b = json.loads(base.read_text())["metrics"]
            res["tracing_overhead"] = {k: res["metrics"][k] - b[k]
                                       for k in res["metrics"] if k in b}
    result_file.write_text(json.dumps(res, indent=1))

    env = res["env"]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={env['nproc']} cpus={env['spark_graft_cpus']} heap={env['driver_max_heap_mb']}MB "
          f"ram={env['ram_mb']}MB spark={env['spark']} scala={env['scala']} jvm={env['jvm']} "
          f"sf={env['sf_dir']}")
    print(f"# {env['flush_policy']}")
    for name, spec in wanted.items():
        print(f"{name} = {fmt(values.get(name))} {spec['unit']}")
    for k, v in res["detail"].items():
        if not isinstance(v, (list, dict)):
            print(f"  {k} = {fmt(v)}")
    print(f"  failed_ops_ratio = {fmt(res['failed_ops_ratio'])} ratio "
          f"({res['failed']} of {res['attempted']} operations and checks)")
    for k, v in res.get("tracing_overhead", {}).items():
        print(f"  tracing_overhead.{k} = {fmt(v)}")
    for c in bad:
        print(f"  CHECK FAILED: {c['check']}: {c['info']}")
    if missing:
        print(f"  MISSING METRICS: {missing}")
    correct = not bad and not missing and res["failed"] == 0
    metrics = {n: {"value": values[n], "unit": s["unit"]}
               for n, s in wanted.items() if n in values and values[n] is not None}
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"] + len(missing), "metrics": metrics}))


if __name__ == "__main__":
    main()
