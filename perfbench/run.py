#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the checkout's program together with
the benchmark harness (perfbench/build.sbt, output under .bench_build/) when
the sources are newer than the last build, runs the workload in one JVM,
checks its outputs, prints every metric by name with its unit, and prints
one JSON result object as the last line of standard output. Exits non-zero
when the build fails, the run fails, or any check fails.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ["ingest_bulk", "ingest_trickle", "lake_cdc", "catalog_slice"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "sbt", "scala-2.13", "perfbench_2.13-0.1.0.jar")
CDS = os.path.join(BUILD, "classes.jsa")
SF_DIR = os.path.join(HERE, "data", "sf0.001")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    paths = [os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        paths += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    return max(os.path.getmtime(p) for p in paths if os.path.isfile(p))


def build():
    """Compiles program + benchmark into one jar when a source is newer than
    the stamp, then records a class-data-sharing archive from a short run so
    that every measured JVM starts from the same pre-parsed classes."""
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source_mtime():
        return
    log("building the program and the benchmark harness (sbt package)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    os.makedirs(BUILD, exist_ok=True)
    started = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0:
        with open(os.path.join(BUILD, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    if os.path.exists(CDS):
        os.remove(CDS)
    work = os.path.join(BUILD, "cds-training")
    shutil.rmtree(work, ignore_errors=True)
    try:
        jvm(["-XX:ArchiveClassesAtExit=" + CDS], ["ingest_bulk", "1", "1", "0"], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(f"{time.time() - started:.1f}\n")


def jvm(jvm_opts, main_args, work):
    """Runs the benchmark JVM; returns its result.json."""
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"] + jvm_opts +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", JAR + os.pathsep + "/opt/spark/jars/*",
            "graft.perfbench.Main"] + main_args + [work, SF_DIR])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            rc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"workload JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def oracle_check(work):
    """Each catalog entry's warm-pass result against its DuckDB oracle SQL
    over the same tables, compared as tools/oracle_check.py does: column
    names, row multisets and exact values (dtype differences are noted,
    not failed)."""
    import duckdb
    problems = []
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    base = os.path.join(work, "catalog")
    with open(os.path.join(base, "oracle_sql.json")) as f:
        oracles = json.load(f)
    for name, sql in oracles.items():
        try:
            got = con.sql(f"SELECT * FROM '{base}/{name}/*.parquet'").df()
            exp = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the entry
            problems.append(f"{name}: oracle error {e}")
            continue
        cg, ce = sorted(got.columns), sorted(exp.columns)
        if cg != ce:
            problems.append(f"{name}: columns {cg} vs oracle {ce}")
            continue
        g = got[cg].sort_values(cg, kind="mergesort").reset_index(drop=True)
        e = exp[ce].sort_values(ce, kind="mergesort").reset_index(drop=True)
        if len(g) != len(e):
            problems.append(f"{name}: {len(g)} rows vs oracle {len(e)}")
        elif not g.equals(e):
            problems.append(f"{name}: values differ from the oracle")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    program = os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline",
                           "KafkaToParquet.scala")
    if not (os.path.isfile(program) and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit("no program sources here: run from the root of a checkout")
    build()

    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = jvm(["-XX:SharedArchiveFile=" + CDS],
                  [args.workload, str(args.seed), str(args.seconds), str(args.trace)], work)
        problems = list(res["problems"])
        if args.workload == "catalog_slice":
            problems += oracle_check(work)
        if args.trace:
            keep = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
            with open(os.path.join(keep, "layers.json"), "w") as f:
                json.dump(res["layer"], f, indent=1, sort_keys=True)
            log(f"spans and per-layer summary written to {keep}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the metric set is BENCHMARK.json's: every end-to-end metric on every
    # run; a layer the workload does not exercise reads 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        shown = {m["name"]: res["layer"].get(m["name"], {"value": 0.0, "unit": m["unit"]})
                 for m in spec["per_layer"]}
        extra = set(res["layer"]) - set(shown)
    else:
        shown = {m["name"]: res["e2e"][m["name"]] for m in spec["end_to_end"]
                 if m["name"] in res["e2e"]}
        extra = set(res["e2e"]) ^ {m["name"] for m in spec["end_to_end"]}
    if extra:
        raise SystemExit(f"metrics out of step with BENCHMARK.json: {sorted(extra)}")
    for k, m in list(shown.items()) + list(res["extra"].items()):
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"attempted {res['attempted']} failed {res['failed']}")
    if args.trace:
        print(f"tracing overhead {shown['trace.overhead_pct']['value']:.2f} % "
              "(traced phase round_s median against the untraced phase)")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {"correct": not problems, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": shown}
    print(json.dumps(result))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
