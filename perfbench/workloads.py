"""The benchmark's named workloads and their seeded op plans.

A workload is a fixed list of ops; its seed fixes the order of every pass,
the inspector's page choices and the kernel-microbench inputs. The plan is
plain text that `perfbench.Harness` reads; the program only ever sees the
generated calls.
"""
import collections
import random

import pyarrow.parquet as pq

# Why each workload exists: BENCHMARK.json and README.md.
Workload = collections.namedtuple("Workload", "name layout queries direct")

# Each workload's pass is a subset of the queries its family declares,
# sized so that a pass takes a few seconds on 4 cores: comparing two commits
# takes 4 + 22 runs per workload, each a JVM start, the warm-up passes and
# enough measured passes for steady medians, in under an hour. README.md
# lists what was left out.
READER_QUERIES = [
    "q1_pricing_summary", "q2_project_filter", "q3_regex_filter",
    "q3n_neg_regex", "q10_count_distinct", "q14_string_funcs",
    "q22_chunked_index", "q24_schema_dump", "x11_inspect_footer",
    "x62_inverted_index", "x205_part_day_prune", "x206_part_source_prune",
    "x207_part_day_scan"]
PIPELINE_QUERIES = [
    "x12_neardup_pairs", "x71_portable_simhash", "x73_lm_quality",
    "x98_bm25_search"]

# Direct calls. `lookup`, `range` and `write` take seeded arguments, drawn
# per pass in `plan`. The reader works on the single-file layout: the
# inspector, the column stream and Parquet write round trips with the
# default and the reference's writer options. The pipeline ends in the
# ingest step: dedup of an arriving batch and append to the hive tree.
READER_DIRECT = ["footer:lineitem", "leaf:lineitem", "pages:lineitem",
                 "chunks:lineitem", "walk:lineitem", "footer:documents",
                 "pages:documents", "colstream:documents:text",
                 "lookup:lineitem", "lookup:lineitem", "lookup:lineitem",
                 "lookup:documents", "range:lineitem", "range:lineitem",
                 "write:default:documents", "write:ref:documents",
                 "write:default:lineitem"]
PIPELINE_DIRECT = ["append"]

WORKLOADS = {w.name: w for w in [
    Workload("reader", "single", READER_QUERIES, READER_DIRECT),
    Workload("pipeline", "multipart", PIPELINE_QUERIES, PIPELINE_DIRECT),
]}

# Keys and moduli of the seeded write subsets: a quarter of the documents
# (default options, and the reference's 1 KiB uncompressed pages) and a
# sixteenth of lineitem.
WRITE_SUBSETS = {("default", "documents"): ("doc_id", 4),
                 ("ref", "documents"): ("doc_id", 4),
                 ("default", "lineitem"): ("l_orderkey", 16)}
# an upper bound only: the harness stops once `--seconds` of op time is measured
PASSES = 200
# The JIT is still compiling the kernels during the second and third pass
# (a pipeline pass takes ~1.4x, and ~1.8x the CPU, of a later one), so
# three untimed passes come first.
WARM_PASSES = 3
MICRO_DOCS, MICRO_PAIRS, MICRO_SKEWED, MICRO_VECS = 256, 256, 64, 256


def resolve(op, rng):
    """Fills in an op's seeded arguments."""
    kind, _, rest = op.partition(":")
    if kind == "lookup":
        # a page position in [0, 1); the harness maps it onto the file's
        # data pages
        return f"{op}:{rng.random():.6f}"
    if kind == "range":
        # a pageChunks chunk position and the share of it to read
        return f"{op}:{rng.random():.6f}:{rng.choice((0.5, 1.0))}"
    if kind == "write":
        opts, table = rest.split(":")
        key, mod = WRITE_SUBSETS[(opts, table)]
        return f"{op}:{key}:{mod}:{rng.randrange(mod)}"
    return op


def micro_inputs(rng, single):
    """Seeded kernel inputs: document ids, document pairs (a share of them
    pairing a short document with a long one) and embedding pairs."""
    docs = pq.read_table(f"{single}/documents.parquet",
                         columns=["doc_id", "n_chars"]).to_pydict()
    ids = docs["doc_id"]
    by_len = [i for _, i in sorted(zip(docs["n_chars"], ids))]
    short, long_ = by_len[:len(by_len) // 4], by_len[-len(by_len) // 4:]
    n_vec = pq.read_metadata(f"{single}/embeddings.parquet").num_rows
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(MICRO_PAIRS)]
    pairs += [(rng.choice(short), rng.choice(long_)) for _ in range(MICRO_SKEWED)]
    return {"micro_docs": [rng.choice(ids) for _ in range(MICRO_DOCS)],
            "micro_pairs": [f"{a},{b}" for a, b in pairs],
            "micro_vecs": [f"{rng.randrange(n_vec)},{rng.randrange(n_vec)}"
                           for _ in range(MICRO_VECS)]}


def plan(wl, seed, single):
    """The seeded plan of one run: WARM_PASSES warm-up passes and up to
    PASSES measured passes, each every op of the workload once in a
    shuffled order."""
    rng = random.Random(seed)
    ops = [f"q:{q}" for q in wl.queries] + list(wl.direct)

    def one_pass():
        p = [resolve(o, rng) for o in ops]
        rng.shuffle(p)
        return p
    warm = [one_pass() for _ in range(WARM_PASSES)]
    passes = [one_pass() for _ in range(PASSES)]
    tables = sorted({"lineitem", "orders", "customer", "part", "supplier",
                     "nation", "region", "events", "documents", "embeddings"})
    return {"workload": wl.name, "layout": wl.layout, "single": single, "tables": tables,
            "inspect": sorted({o.split(":")[1] for o in wl.direct
                               if o.split(":")[0] in ("lookup", "range")}),
            "warm": warm, "passes": passes, **micro_inputs(rng, single),
            "summary": {"queries": len(wl.queries), "direct": len(wl.direct),
                        "layout": wl.layout}}


def render_plan(p, seconds, trace, cores, scratch):
    lines = [f"workload {p['workload']}", f"seconds {seconds}", f"trace {trace}",
             f"cores {cores}", f"layout {p['layout']}", f"single {p['single']}",
             f"scratch {scratch}",
             "tables " + " ".join(p["tables"]), "inspect " + " ".join(p["inspect"])]
    lines += ["warm " + " ".join(ps) for ps in p["warm"]]
    lines += ["pass " + " ".join(ps) for ps in p["passes"]]
    for k in ("micro_docs", "micro_pairs", "micro_vecs"):
        lines.append(f"{k} " + " ".join(map(str, p[k])))
    return "\n".join(lines) + "\n"
