#!/usr/bin/env python3
"""Maintenance tool: re-pins the benchmark's expected answers.

    python3 perfbench/pin.py oracle              # DuckDB answers -> oracle.json
    python3 perfbench/pin.py expected <artifact>...  # -> expected.json

`oracle` runs every workload query that has an oracle in DuckDB over the
fixture (slow: minutes) and stores digest, row count and the
hash of the SQL. `expected` takes answers from benchmark artifacts for
what has no oracle: row counts of the other queries and digests of the
inspector, column-stream and append ops. Run from the repository root,
after one benchmark run has built `.bench_build/perfbench`.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def pin_oracle():
    cache = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    key, classpath = run.build(os.getcwd(), cache)
    single = run.FIXTURE
    sql = run.oracle_sql(cache, key, classpath)
    names = sorted({q for w in workloads.WORKLOADS.values() for q in w.queries if q in sql})
    out = {}
    for q in names:
        out.update(checks.duckdb_digests(single, {q: sql[q]}))
        print(q, out[q]["rows"], flush=True)
    write("oracle.json", out)


def pin_expected(paths):
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    with open(os.path.join(HERE, "oracle.json")) as f:
        oracle = json.load(f)
    for p in paths:
        with open(p) as f:
            answers = json.load(f)["answers"]
        for key, a in answers.items():
            kind, _, arg = key.partition(":")
            if kind == "q":
                if arg not in oracle:
                    expected["rows"][arg] = a["rows"]
            elif kind not in ("lookup", "range", "write"):
                expected["digests"][key] = a["digest"]
    write("expected.json", expected)


def write(name, obj):
    with open(os.path.join(HERE, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["oracle"]:
        pin_oracle()
    elif sys.argv[1:2] == ["expected"]:
        pin_expected([q for p in sys.argv[2:] for q in glob.glob(p)])
    else:
        sys.exit(__doc__)
