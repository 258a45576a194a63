#!/usr/bin/env python3
"""The repository benchmark: one command, two named workloads.

    python3 perfbench/run.py --workload <reader|pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine (`src/main/scala`) and the harness (`perfbench/harness`) with the
Scala compiler shipped in the Spark jars; it is cached under
`.bench_build/perfbench`, keyed by content hashes. The data is the sf0.01
test fixture in `perfbench/fixture`. Each run then starts one JVM
(`perfbench.Harness`) that sets up a Spark session, runs an untimed
warm-up pass and then whole measured passes of the workload's ops in a
seeded order, one op at a time (a closed loop with one client), for at
least `--seconds` seconds of op time.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (listeners, plan metrics, spans, kernel microbench). Every op's
answer is checked; the last line of stdout is the JSON result. The full
artifact (samples, failures with causes, spans) is written to
`.bench_build/perfbench/artifacts/`. See `perfbench/README.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 160
HEAP = "3g"
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths, base):
    """Content hash of files, named relative to `base`."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached(path, build):
    """Returns `path`, building it first (into a temp path, then renamed)
    when it does not exist yet."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.rename(tmp, path)
    return path


def spark_jars(root):
    """The Spark jars the sbt build compiles against (its `unmanagedBase`),
    or `$SPARK_HOME/jars`."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")
    return m.group(1)


def scalac(sources, jars, classpath, out):
    """Compiles `sources` into the jar `out` (class-data sharing archives
    only classes that come from jars)."""
    classes = out + ".classes"
    os.makedirs(classes)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)
    os.remove(argfile)


def build(root, cache):
    """Returns (build key, JVM classpath)."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                                recursive=True))
    if not main_src:
        raise SystemExit("perfbench: no src/main/scala here; run from the "
                         "repository root")
    jars = spark_jars(root)
    main_h = tree_hash(main_src, root)
    engine = cached(os.path.join(cache, f"engine-{main_h}.jar"),
                    lambda out: scalac(main_src, jars, f"{jars}/*", out))
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    key = f"{main_h}-{tree_hash(harness_src, HERE)}"
    harness = cached(os.path.join(cache, f"harness-{key}.jar"),
                     lambda out: scalac(harness_src, jars, f"{engine}:{jars}/*", out))
    return key, f"{engine}:{harness}:{jars}/*"


# The sf0.01 test fixture (data seed 42), copied byte for byte: one
# single-row-group Parquet file per table, as parquet-cpp-arrow wrote it.
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


def java(classpath, main, args, stderr_path, heap, cds=None):
    """Runs a JVM main. With `cds` (an archive path), the JVM maps the
    class-data-sharing archive of an earlier run with the same classpath,
    or, when there is none yet, writes one at exit: loading Spark's classes
    from the archive takes seconds off every later JVM start."""
    flags = []
    if cds and os.path.exists(cds):
        flags = [f"-XX:SharedArchiveFile={cds}"]
    elif cds:
        flags = [f"-XX:ArchiveClassesAtExit={cds}.tmp{os.getpid()}"]
    # a fixed heap and young generation keep the resident set a function
    # of the work, not of the collector's sizing decisions
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn768m", "-Xss8m",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.dirname(stderr_path)}"] + flags + JDK_OPENS + [
        "-cp", classpath, main] + args
    with open(stderr_path, "w") as err:
        rc = subprocess.run(cmd, stdout=err, stderr=err,
                            timeout=JVM_TIMEOUT_S).returncode
    if cds and os.path.exists(f"{cds}.tmp{os.getpid()}"):
        os.replace(f"{cds}.tmp{os.getpid()}", cds)
    return rc


def oracle_sql(cache, key, classpath):
    """`SparkEntry.oracleSql` of this engine version."""
    path = os.path.join(cache, f"oracle-sql-{key}.json")
    if not os.path.exists(path):
        rc = java(classpath, "perfbench.DumpOracle", [path + ".tmp"],
                  path + ".log", "1g")
        if rc != 0:
            raise SystemExit(f"perfbench: oracle dump failed, see {path}.log")
        os.rename(path + ".tmp", path)
        os.remove(path + ".log")
    with open(path) as f:
        return json.load(f)


def oracle_digests(cache, sql, names, single):
    """DuckDB's answer digest for each query in `names` that has an
    oracle. Answers are pinned in `oracle.json` with the hash of the SQL
    they came from; a query whose SQL changed since is re-run in DuckDB
    (and cached)."""
    with open(os.path.join(HERE, "oracle.json")) as f:
        pinned = json.load(f)
    out, stale = {}, {}
    for q in names:
        if q not in sql:
            continue
        h = checks.sql_hash(sql[q])
        if pinned.get(q, {}).get("sql_sha256") == h:
            out[q] = pinned[q]
        else:
            stale[q] = sql[q]
    for q, text in stale.items():
        path = os.path.join(cache, f"oracle-{checks.sql_hash(text)}-"
                            f"{os.path.basename(single)}.json")
        if not os.path.exists(path):
            log(f"oracle SQL of {q} changed since pinning; running it in DuckDB")
            with open(path + ".tmp", "w") as f:
                json.dump(checks.duckdb_digests(single, {q: text})[q], f)
            os.rename(path + ".tmp", path)
        with open(path) as f:
            out[q] = json.load(f)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    key, classpath = build(root, cache)
    single = FIXTURE
    wl = workloads.WORKLOADS[a.workload]
    oracle = oracle_digests(cache, oracle_sql(cache, key, classpath),
                            wl.queries, single)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(cache, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = workloads.plan(wl, a.seed, single)
    plan_path = os.path.join(run_dir, "plan.txt")
    with open(plan_path, "w") as f:
        f.write(workloads.render_plan(plan, seconds=a.seconds, trace=a.trace,
                                      cores=cores, scratch=os.path.join(run_dir, "scratch")))
    out_path = os.path.join(run_dir, "samples.json")
    launch = time.time()
    try:
        rc = java(classpath, "perfbench.Harness", [plan_path, out_path],
                  os.path.join(run_dir, "jvm.log"), HEAP,
                  cds=os.path.join(cache, f"cds-{key}-{a.workload}.jsa"))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    if rc != 0 or not os.path.exists(out_path):
        log(f"harness failed ({rc}) after {time.time() - launch:.0f} s; "
            f"see {run_dir}/jvm.log")
        return 1
    with open(out_path) as f:
        samples = json.load(f)
    samples["launch_epoch_s"] = launch
    with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
        acc_errors = checks.accumulator_errors(f)

    report = checks.report(samples, oracle, expected, acc_errors, a.trace == 1)
    report.update(workload=a.workload, seed=a.seed, seconds=a.seconds,
                  trace=a.trace, cores=cores, ops=plan["summary"])
    art_dir = os.path.join(cache, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    untraced = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace0.json")
    if a.trace == 1 and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["metrics"]["ops_per_s"]["value"]
        traced = report["metrics"]["trace.ops_per_s"]["value"]
        report["tracing_overhead"] = {"traced_ops_per_s": traced,
                                      "untraced_ops_per_s": base,
                                      "ratio": traced / base if base else None}
    report["spans"] = samples["spans"]
    with open(art, "w") as f:
        json.dump(report, f, indent=1)
    shutil.move(os.path.join(run_dir, "jvm.log"), art[:-len(".json")] + ".log")
    shutil.rmtree(run_dir, ignore_errors=True)

    for line in checks.summary_lines(report):
        print(line)
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
