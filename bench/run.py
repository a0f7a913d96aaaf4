#!/usr/bin/env python3
"""Benchmark of the graft feature-store engine: one workload, one run.

Usage (from the repository root):

    python3 bench/run.py --workload workflow|serve|analytics \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (sbt,
offline), runs the workload in a fresh JVM, checks its outputs, and
prints as the last line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json untraced, its per-layer metrics traced. Exits non-zero
when an output check fails or the run cannot complete. See
bench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("workflow", "serve", "analytics")

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's own
# build.sbt passes the same set to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every input of the build, to skip rebuilding."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src", "main"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark distribution: $SPARK_HOME, else where spark-submit is."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build():
    """Compile the engine with the benchmark; return the run classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to bench/")
    stamp = os.path.join(HERE, "target", "bench-classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("digest") == digest:
            return got["classpath"]
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


# canon and cell_eq follow the engine's oracle gate (tools/compare_oracle.py);
# the benchmark keeps its own copy so that its check does not change with
# the engine's tools.
def canon(rows, cols):
    """Columns in name order, rows sorted by their rendered cells."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple(str(v) for v in t))
    return sorted(cols), out


def cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    return str(a) == str(b)


def oracle_checks(work):
    """Each analytics query's result against DuckDB running the engine's
    own oracle SQL on the same tables: one check per query."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    data = os.path.join(work, "tables0")
    with open(os.path.join(work, "tables.json")) as fh:
        tables = json.load(fh)
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data}/{t}.parquet/*.parquet')")
    with open(os.path.join(work, "oracle.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql)
            ocols, orows = canon(o.fetchall(), [d[0] for d in o.description])
            s = con.sql(f"SELECT * FROM read_parquet('{work}/results/{name}/*.parquet')")
            scols, srows = canon(s.fetchall(), [d[0] for d in s.description])
        except Exception as e:  # a query the oracle cannot run fails its check
            failures.append(f"{name}: oracle error {e}")
            continue
        if ocols != scols:
            failures.append(f"{name}: columns {scols} vs oracle {ocols}")
        elif len(orows) != len(srows) or not all(
                len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
                for a, b in zip(orows, srows)):
            failures.append(f"{name}: {len(srows)} rows differ from the "
                            f"oracle's {len(orows)}")
    con.close()
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"{run_id}.log")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--launched-ms", str(int(time.time() * 1000))]
    if args.trace:
        cmd += ["--spans", os.path.join(out_dir, f"{run_id}.spans.json")]
    try:
        t0 = time.time()
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=150)
        jvm_s = time.time() - t0
        lines = p.stdout.strip().splitlines()
        report = next((json.loads(l[len("REPORT "):]) for l in lines
                       if l.startswith("REPORT ")), None)
        if p.returncode != 0 or report is None or not lines[-1].startswith("{"):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"workload run failed (java exit {p.returncode})")
        result = json.loads(lines[-1])
        report["generator"]["jvm_s"] = jvm_s
        if args.workload == "analytics":
            t0 = time.time()
            n, bad = oracle_checks(work)
            report["generator"]["oracle_s"] = time.time() - t0
            result["attempted"] += n
            result["failed"] += len(bad)
            report["failures"] += bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None:
            # a layer this workload does not drive did no work
            if not args.trace:
                fail(f"end-to-end metric {m['name']} missing from the run")
            got = {"value": 0, "unit": m["unit"]}
        elif got["unit"] != m["unit"]:
            fail(f"{m['name']} measured in {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = got
    extra = set(result["metrics"]) - set(metrics)
    if extra:
        fail(f"metrics not declared in BENCHMARK.json: {sorted(extra)}")
    result["metrics"] = metrics
    result["correct"] = result["failed"] == 0 and result["attempted"] > 0
    print("REPORT " + json.dumps(report))
    for f in report["failures"]:
        print(f"FAILED {f}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
