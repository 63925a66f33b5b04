#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload match_etl --seed 1 --seconds 12 --trace 0

Builds graft and the harness from source with sbt into .bench_build/ (once
per source tree), generates the input tables there (once per checkout) and
a class-data-sharing archive (once per build), then starts one JVM for the
run. The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
End-to-end metrics with --trace 0, per-layer metrics with --trace 1.

--save FILE appends the run's full record (host disclosure, per-query
executions, fingerprints, every metric) to FILE as one JSON line;
perfbench/compare.py reads such files. --record-expected writes the run's
result fingerprints as the workload's expected values.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF = 0.01  # input scale: lineitem = 6M x SF rows
DATA = os.path.join(BUILD, "data", f"sf{SF}-v1")
CDS = os.path.join(BUILD, "classes.jsa")
HEAP = "3g"
RUN_TIMEOUT_S = 170
WORKLOADS = ("match_etl", "corpus_curate")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        fail(f"graft sources not found under {lib}")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (lib, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    """Compile with sbt if the sources changed since the last build."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.txt")
    key = digest.hexdigest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            k, cp = fh.read().split("\n", 1)
        if k == key:
            return key, cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false", "package", "export Runtime/fullClasspathAsJars"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(key + "\n" + cp + "\n")
    return key, cp


def java(cp, args, timeout, jvm_flags=()):
    tmp = os.path.join(BUILD, "tmp")
    work = os.path.join(BUILD, "work")
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += list(jvm_flags) + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.PerfBench"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    for k in ("SPARK_GRAFT_ARTIFACTS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS"):
        env.pop(k, None)
    with open(os.path.join(BUILD, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {timeout}s (see {log.name})")
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode} (see {os.path.join(BUILD, 'jvm.log')})")


def prepare(key, cp):
    """Input tables (once per checkout) and the class-data-sharing archive
    (once per build)."""
    stamp = CDS + ".cp"
    if os.path.exists(stamp) and os.path.exists(CDS):
        with open(stamp) as fh:
            if fh.read() == key:
                return
    for f in (CDS, stamp):
        if os.path.exists(f):
            os.remove(f)
    java(cp, ["--prepare", DATA, "--sf", str(SF), "--work", os.path.join(BUILD, "work", "prepare")],
         600, [f"-XX:ArchiveClassesAtExit={CDS}"])
    with open(stamp, "w") as fh:
        fh.write(key)


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def check(record):
    """Failed executions and fingerprint mismatches, against expected values."""
    path = expected_path(record["workload"])
    expected = {}
    if os.path.exists(path):
        with open(path) as fh:
            expected = json.load(fh)["fingerprints"]
    mismatched = sorted(q for q, fp in record["fingerprints"].items() if expected.get(q) != fp)
    failed_exec = sum(1 for e in record["executions"] if not e[3])
    attempted = len(record["executions"]) + len(record["fingerprints"])
    return attempted, failed_exec + len(mismatched), mismatched


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="append the run's full record to this JSON-lines file")
    ap.add_argument("--record-expected", action="store_true",
                    help="store this run's result fingerprints as the expected values")
    a = ap.parse_args()

    key, cp = classpath()
    prepare(key, cp)
    out = os.path.join(BUILD, "work", "record.json")
    if os.path.exists(out):
        os.remove(out)
    java(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", DATA,
              "--work", os.path.join(BUILD, "work", a.workload), "--out", out], RUN_TIMEOUT_S,
         [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else [])
    with open(out) as fh:
        record = json.load(fh)

    if a.record_expected:
        errors = [q for q, fp in record["fingerprints"].items() if "error" in fp]
        if errors:
            fail(f"not recording expected values: {errors} failed")
        os.makedirs(os.path.dirname(expected_path(a.workload)), exist_ok=True)
        with open(expected_path(a.workload), "w") as fh:
            json.dump({"workload": a.workload, "sf": SF,
                       "artifacts_mode": record["artifacts_mode"],
                       "fingerprints": record["fingerprints"]}, fh, indent=1, sort_keys=True)
            fh.write("\n")

    attempted, failed, mismatched = check(record)
    # Artifacts are published in set-up; timed passes must only read them.
    mode_ok = record["timed_publishes"] == 0
    correct = failed == 0 and mode_ok
    record["check"] = {"attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
                       "mismatched": mismatched, "artifacts_mode_ok": mode_ok}
    if a.save:
        with open(a.save, "a") as fh:
            fh.write(json.dumps(record, sort_keys=True) + "\n")

    # Report exactly the metrics BENCHMARK.json declares for this kind of run.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if a.trace else "end_to_end"]]
    measured = record["per_layer" if a.trace else "end_to_end"]
    missing = [n for n in declared if n not in measured]
    if missing:
        fail(f"the run measured no {missing}")
    metrics = {n: measured[n] for n in declared}
    for name, m in metrics.items():
        print(f"{record['workload']} {name} {m['value']} {m['unit']}")
    host = record["host"]
    print(f"{record['workload']} samples {record['samples']} query_p50_s {record['query_p50_s']} "
          f"query_p90_s {record['query_p90_s']} failed_frac {failed / attempted} "
          f"cores {host['cores']} heap_mb {host['heap_mb']} seed {a.seed} "
          f"mode {record['artifacts_mode']} loadavg {host['loadavg_pre']} "
          f"external_cpu_frac {host['external_cpu_frac']}")
    if mismatched:
        print(f"{record['workload']} fingerprint mismatch: {' '.join(mismatched)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
