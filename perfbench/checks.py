"""Answer checks, metric arithmetic and the report of one benchmark run."""
import datetime
import decimal
import hashlib
import math
import re
import struct

import pyarrow.parquet as pq

import stats

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ---- answer digests (byte-compatible with perfbench/harness/Render.scala) --

EPOCH = datetime.datetime(1970, 1, 1)


def render(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{render(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, list) and v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
        kv = sorted((render(k), render(x)) for k, x in v)
        return "{" + ",".join(f"{k}:{x}" for k, x in kv) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return str(v)


def digest_lines(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.digest()[:12].hex()


def digest_table(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return digest_lines("\x01".join(render(col[i]) for col in data)
                        for i in range(tbl.num_rows))


def sql_hash(sql):
    return hashlib.sha256(sql.encode("utf-8")).hexdigest()


def duckdb_digests(single, sql_by_name):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{single}/{t}.parquet')")
    out = {}
    for name in sorted(sql_by_name):
        tbl = con.execute(sql_by_name[name]).arrow()
        out[name] = {"digest": digest_table(tbl), "rows": tbl.num_rows,
                     "sql_sha256": sql_hash(sql_by_name[name])}
    return out


# ---- failures ---------------------------------------------------------------

MARK = re.compile(r"\[perfbench\] op-(begin|end) (\d+)")


def accumulator_errors(lines):
    """Counts `ERROR ... accumulator` log lines per op id. A line is charged
    to the op that began last: Spark reports lost metric updates
    asynchronously, so a line may land just after its op's end marker."""
    out, current = {}, None
    for line in lines:
        m = MARK.search(line)
        if m:
            if m.group(1) == "begin":
                current = int(m.group(2))
        elif current is not None and "ERROR" in line and "accumulator" in line:
            out[current] = out.get(current, 0) + 1
    return out


def verdict(op, oracle, expected):
    """None when the op's answer is right, else the cause."""
    if "error_class" in op:
        return f"{op['error_class']}: {op['error']} (root cause {op['root_class']})"
    if op.get("cache_before", 0) != 0:
        return f"CacheManager held {op['cache_before']} entries at op start"
    if op.get("self_ok") is False:
        return "self-check failed: result differs from the reference read"
    kind, _, arg = op["op"].partition(":")
    if kind == "q":
        if arg in oracle:
            want = oracle[arg]
            if op["digest"] != want["digest"]:
                return (f"answer differs from DuckDB (rows {op['rows']} vs "
                        f"{want['rows']})")
            return None
        if arg in expected["rows"]:
            if op["rows"] != expected["rows"][arg]:
                return f"row count {op['rows']} != pinned {expected['rows'][arg]}"
            return None
        return "no oracle and no pinned row count"
    if kind in ("lookup", "range", "write"):
        return None if op.get("self_ok") is True else "no self-check recorded"
    key = answer_key(op["op"])
    want = expected["digests"].get(key)
    if want is None:
        return f"no pinned answer for {key}"
    if op["digest"] != want:
        return f"answer differs from the pinned digest of {key}"
    return None


# ---- metrics ----------------------------------------------------------------

def _m(value, unit):
    return {"value": value, "unit": unit}


def median_pass(measured, field):
    """The run's median pass: for each op key, the median over passes of
    what that key's ops took in a pass, and how many of them a pass holds.
    One slow pass (a GC pause, a burst of CPU steal) moves a key's value
    only when it is the median one."""
    per, count = {}, {}
    for o in measured:
        k = answer_key(o["op"])
        per.setdefault(k, {})
        per[k][o["pass"]] = per[k].get(o["pass"], 0.0) + o[field]
        count[(k, o["pass"])] = count.get((k, o["pass"]), 0) + 1
    return {k: (stats.median(list(v.values())), count[(k, next(iter(v)))])
            for k, v in per.items()}


def end_to_end(samples, measured, failed):
    """Throughput and CPU per op come from the run's median pass; latency
    percentiles from every measured op; set-up is the time from the JVM's
    launch to the first measured op."""
    passes = len({o["pass"] for o in measured})
    per_pass = len(measured) / passes
    walls = median_pass(measured, "wall_s")
    cpus = median_pass(measured, "cpu_s")
    pass_s = sum(t for t, _ in walls.values())
    lat = [o["wall_s"] for o in measured]
    tail, pct, beyond = stats.tail(lat)
    metrics = {
        "setup_s": _m(samples["setup_end_epoch_s"] - samples["launch_epoch_s"], "s"),
        "ops_per_s": _m(per_pass * (1 - failed / len(measured)) / pass_s, "1/s"),
        "op_p50_s": _m(stats.median(lat), "s"),
        "op_tail_s": _m(tail, "s"),
        "cpu_s_per_op": _m(sum(c for c, _ in cpus.values()) / per_pass, "s"),
        "peak_rss_mb": _m(samples["peak_rss_kb"] / 1024.0, "MB"),
    }
    detail = {"op_samples": len(lat), "op_tail_percentile": pct,
              "op_tail_samples_beyond": beyond, "ops_per_pass": per_pass,
              "median_pass_s": pass_s, "session_s": samples["session_s"],
              "mirror_s": samples["mirror_s"], "warmup_s": samples["warmup_s"],
              "measured_s": sum(lat), "loop_wall_s": samples["loop_wall_s"],
              "passes": samples["passes"], "pass_s": _per_pass(measured, "wall_s"),
              "pass_cpu_s": _per_pass(measured, "cpu_s")}
    return metrics, detail


def _per_pass(measured, field):
    out = {}
    for o in measured:
        out[o["pass"]] = out.get(o["pass"], 0.0) + o[field]
    return [out[p] for p in sorted(out)]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(samples, measured, cores):
    """Per-layer metrics of a traced run, from the harness's spans, the
    listener and plan metrics it recorded per op, and the microbench."""
    op_ids = {o["id"] for o in measured}
    spans = [s for s in samples["spans"] if s[2] in op_ids]
    by_op = {}
    for s in spans:
        by_op.setdefault(s[2], []).append(s)

    def span_s(op, name):
        return sum(s[5] - s[4] for s in by_op.get(op["id"], []) if s[3] == name) / 1e9

    tr = [o["trace"] for o in measured]
    queries = [o for o in measured if o["op"].startswith("q:")]
    kind = lambda k: [o for o in measured if o["op"].split(":")[0] == k]  # noqa: E731
    gaps = []
    for o in queries:
        for s in by_op.get(o["id"], []):
            if s[3] == "action":
                jobs = o["trace"]["job_intervals"]
                gaps.append(((s[5] - s[4]) - stats.union_length(jobs, s[4], s[5])) / 1e9)
    wall = sum(o["wall_s"] for o in measured)
    result_rows = sum(o.get("rows", 0) for o in queries)
    st = stats.self_time_by_name(spans)
    n = len(measured)
    micro = samples["micro"]
    lookups, ranges, walks = kind("lookup"), kind("range"), kind("walk")
    writes = kind("write")
    write_in = sum(o["in_bytes"] for o in writes)
    m = {
        "queries.build_s": (_mean(span_s(o, "queries.build") for o in queries), "s"),
        "queries.build_jobs": (_mean(sum(1 for s in by_op.get(o["id"], [])
                                         if s[3] == "spark.job" and _parent_name(by_op, s) == "queries.build")
                                     for o in queries), "count"),
        "queries.build_cpu_s": (_mean(o["trace"]["build_cpu_s"] for o in queries), "s"),
        "catalyst.plan_s": (_mean(span_s(o, "catalyst.plan") for o in queries), "s"),
        "catalyst.qe_count": (_mean(o["trace"]["qe_count"] for o in queries), "count"),
        "sched.jobs": (_mean(t["jobs"] for t in tr), "count"),
        "sched.stages": (_mean(t["stages"] for t in tr), "count"),
        "sched.tasks": (_mean(t["tasks"] for t in tr), "count"),
        "sched.driver_gap_s": (_mean(gaps), "s"),
        "scan.files": (_mean(t["scan_files"] for t in tr), "count"),
        "scan.bytes": (_mean(t["scan_bytes"] for t in tr), "bytes"),
        "scan.rows": (_mean(t["scan_rows"] for t in tr), "count"),
        "scan.time_s": (_mean(t["scan_time_s"] for t in tr), "s"),
        "scan.rows_per_result_row": (_ratio(sum(o["trace"]["scan_rows"] for o in queries),
                                            result_rows), "ratio"),
        "exchange.write_bytes": (_mean(t["shuffle_write_bytes"] for t in tr), "bytes"),
        "exchange.read_bytes": (_mean(t["shuffle_read_bytes"] for t in tr), "bytes"),
        "exchange.fetch_wait_s": (_mean(t["fetch_wait_s"] for t in tr), "s"),
        "exchange.spill_bytes": (_mean(t["spill_bytes"] for t in tr), "bytes"),
        "exec.task_cpu_s": (_mean(t["task_cpu_s"] for t in tr), "s"),
        "exec.task_run_s": (_mean(t["task_run_s"] for t in tr), "s"),
        "exec.gc_s": (_mean(t["gc_s"] for t in tr), "s"),
        "exec.core_util": (_ratio(sum(t["task_run_s"] for t in tr), wall * cores), "ratio"),
        "inspect.footer_ms": (1e3 * _mean(o["wall_s"] for o in kind("footer")), "ms"),
        "inspect.page_index_ms": (1e3 * _mean(o["wall_s"] for o in kind("pages") + kind("chunks")), "ms"),
        "inspect.range_mb_s": (_ratio(sum(o["bytes"] for o in ranges) / 1e6,
                                      sum(o["wall_s"] for o in ranges)), "MB/s"),
        "inspect.iter_mb_s": (_ratio(sum(o["bytes"] for o in walks) / 1e6,
                                     sum(o["wall_s"] for o in walks)), "MB/s"),
        "inspect.lookup_ms": (1e3 * _mean(o["wall_s"] for o in lookups), "ms"),
        "inspect.lookup_read_bytes": (_mean(o["rchar"] for o in lookups), "bytes"),
        "ops.column_stream_strings_per_s": (_ratio(sum(o["rows"] for o in kind("colstream")),
                                                   sum(o["wall_s"] for o in kind("colstream"))), "1/s"),
        "ops.ingest_append_s": (_mean(span_s(o, "ops.ingest_append") for o in kind("append")), "s"),
        "sources.write_s": (_mean(span_s(o, "sources.write") for o in writes), "s"),
        "sources.write_files": (_mean(o["files"] for o in writes), "count"),
        "sources.write_bytes": (_mean(o["bytes"] for o in writes), "bytes"),
        "sources.write_amp": (_ratio(sum(o["bytes"] for o in writes), write_in), "ratio"),
        "session.cache_entries_after_op": (_mean(o["cache_after"] for o in measured), "count"),
    }
    for k in ("ws_tokens_ns", "minhash_ns", "portable_minhash_ns", "simhash_ns",
              "ngram_hashes_ns", "dot_ns", "jaccard_sorted_ns"):
        m[f"functions.{k}"] = (micro[k], "ns")
    for name in SELF_SPANS:
        m[f"self.{name}_s"] = (st.get(name, 0) / 1e9 / n, "s")
    return {k: _m(v, u) for k, (v, u) in m.items()}, {k: v / 1e9 / n for k, v in st.items()}


SELF_SPANS = ["op", "queries.build", "catalyst.plan", "action", "spark.job", "spark.stage"]


def _parent_name(by_op, span):
    for s in by_op.get(span[2], []):
        if s[0] == span[1]:
            return s[3]
    return None


def report(samples, oracle, expected, acc_errors, traced):
    ops = samples["ops"]
    measured = [o for o in ops if o["pass"] >= 0]
    failures = []
    for o in ops:
        cause = verdict(o, oracle, expected)
        if cause:
            failures.append({"op": o["op"], "id": o["id"], "pass": o["pass"], "cause": cause})
    failed_ids = {f["id"] for f in failures}
    failed = sum(1 for o in measured if o["id"] in failed_ids)
    metrics, detail = end_to_end(samples, measured, failed)
    out = {"correct": not failures, "attempted": len(measured), "failed": failed,
           "failed_frac": failed / len(measured), "failures": failures,
           "detail": detail,
           "unmeasured_ops": sorted({o["op"] for o in ops if acc_errors.get(o["id"])}),
           "accumulator_error_lines": sum(acc_errors.values()),
           "cache_left_by": sorted({o["op"] for o in ops if o.get("cache_after")}),
           "op_latency_s": _by_op(measured),
           # every measured op: [op, pass, wall s, process CPU s]
           "samples": [[o["op"], o["pass"], o["wall_s"], o["cpu_s"]] for o in measured],
           "answers": answers(ops)}
    if traced:
        out["metrics"], out["self_time_s_per_op"] = per_layer(samples, measured, samples["cores"])
        # the tracing overhead is this against the untraced run's ops_per_s
        out["metrics"]["trace.ops_per_s"] = metrics["ops_per_s"]
        out["end_to_end_of_traced_run"] = metrics
        if not samples["micro"]["jaccard_sorted_agrees"]:
            out["correct"] = False
            failures.append({"op": "micro", "cause": "jaccardSorted != jaccard"})
    else:
        out["metrics"] = metrics
    return out


def answer_key(op):
    """`q:<query>`, `append`, or `<kind>:<table>` for the inspector ops."""
    parts = op.split(":")
    return op if parts[0] == "q" else ":".join(parts[:2])


def answers(ops):
    """First recorded answer per op key, the source of `expected.json`."""
    out = {}
    for o in ops:
        if "digest" in o:
            out.setdefault(answer_key(o["op"]), {"digest": o["digest"], "rows": o["rows"]})
    return out


def _by_op(measured):
    by = {}
    for o in measured:
        by.setdefault(answer_key(o["op"]), []).append(o["wall_s"])
    return {k: {"median": stats.median(v), "n": len(v)} for k, v in sorted(by.items())}


def summary_lines(rep):
    d = rep["detail"]
    lines = [f"workload {rep['workload']} seed {rep['seed']} trace {rep['trace']}: "
             f"{rep['attempted']} ops in {d['passes']} passes, {rep['failed']} failed "
             f"(failed_frac {rep['failed_frac']:.4f}); latency over {d['op_samples']} "
             f"samples, tail at p{d['op_tail_percentile']:.1f} with "
             f"{d['op_tail_samples_beyond']} beyond"]
    for f in rep["failures"][:20]:
        lines.append(f"  FAILED {f['op']}: {f['cause']}")
    for k, v in rep["metrics"].items():
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}")
    return lines
