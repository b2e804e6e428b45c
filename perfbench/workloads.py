"""The workloads, their set-up, the traced probe and metric assembly.

Load shape: one process, the benchmark is the Spark driver with one
client thread (closed loop), `local[<cores>]`, a fixed shuffle-partition
and segment count, Spark UI off. Every index a workload reads is built
here by the code under test from the seeded pages corpus.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import sys
import time
import traceback
from statistics import median
from typing import Dict, List, Optional, Tuple

import corpus
import eventlog
from measure import RssSampler, Tracer, descendants, tail_percentile
from oracle import Oracle, matches

N_SEGMENTS = 8
SHUFFLE_PARTITIONS = 8
K = 10
BUILD_DOCS = 1500          # build workload corpus (see README: dominance)
MIN_BUILDS = 3             # timed builds per run at least, for a median
INDEX_DOCS = 600           # corpus behind the query workload's index
WARMUP_DOCS = 100          # the build workload's set-up index
SETUP_REPS = 3             # index opens whose median set-up reports
QUERY_POOL = 64            # parsed queries per seed, cycled
BATCH_SIZE = 40            # queries in the traced batch probe
UPDATE_DOCS = 8            # docs re-generated by the traced update probe
KERNEL_SAMPLE = 200        # docs behind the single-thread kernel rates
SHAPES = ("or", "and", "andnot", "phrase")
# Seed offset of the re-generated page versions the update probe writes.
REPLACE_SEED_OFFSET = 7919

WORKLOADS = ("build", "query")

# --- metric catalogue ------------------------------------------------------

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_p50_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
    ("index_bytes_per_text_byte", "ratio", "lower"),
)

_UNITS = {"wall_s": "s", "driver_s": "s", "run_s": "s", "cpu_s": "s",
          "gc_s": "s", "jobs": "count", "tasks": "count",
          "input_records": "count", "shuffle_read_bytes": "bytes",
          "shuffle_write_bytes": "bytes", "python_bytes_out": "bytes",
          "python_bytes_in": "bytes"}
_FULL = tuple(_UNITS)
_PLAN = ("wall_s", "driver_s", "jobs", "tasks", "run_s", "cpu_s")
_IO = _PLAN + ("shuffle_write_bytes", "python_bytes_out", "python_bytes_in")
# Group → reported fields. Stage sub-groups have no driver time of their
# own; plan groups move no shuffle or Python data. Spill (always 0 at
# these sizes) and GC time where the JVM barely allocates are left out.
GROUPS = (
    ("index.segments.build", _FULL),
    ("index.segments.build.exchange",
     ("wall_s", "jobs", "tasks", "run_s", "cpu_s", "shuffle_write_bytes",
      "input_records", "python_bytes_out", "python_bytes_in")),
    ("index.segments.build.invert",
     ("wall_s", "jobs", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
      "python_bytes_out", "python_bytes_in")),
    ("index.segments.term_dict", _PLAN + ("input_records",)),
    ("query.executor.plan", _PLAN),
    ("query.executor.exec", _FULL),
    ("query.wand.batch.plan", _PLAN),
    ("query.wand.batch.exec", tuple(f for f in _FULL if f != "gc_s")),
    ("index.segments.replace", _IO),
    ("query.wand.single.plan", _PLAN),
    ("query.wand.single.exec",
     _PLAN + ("input_records", "python_bytes_out", "python_bytes_in")),
    ("index.segments.compact", _IO),
)
SCALARS = (
    ("query.parser.parse_s", "s", "lower"),
    ("query.executor.jobs_per_query", "count", "lower"),
    ("query.executor.rows_scanned_per_result", "ratio", "lower"),
    ("query.wand.batch.chunks_read", "count", "lower"),
    ("index.segments.build.udf_rows_per_doc", "ratio", "lower"),
    ("index.segments.segments_after", "count", "lower"),
    ("index.segments.tombstones", "count", "lower"),
    ("analysis.htmlparse.extract_docs_per_s", "1/s", "higher"),
    ("analysis.tokenizer.docs_per_s", "1/s", "higher"),
    ("index.codec.encode_postings_per_s", "1/s", "higher"),
    ("index.codec.decode_postings_per_s", "1/s", "higher"),
    ("trace.layer_coverage", "ratio", "higher"),
)


def per_layer_catalogue() -> List[Tuple[str, str, str]]:
    out = []
    for group, fields in GROUPS:
        out.extend((f"{group}.{f}", _UNITS[f], "lower") for f in fields)
    return out + list(SCALARS)


# --- Spark session ---------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(root: str, work: str, trace: bool):
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # one string-hash seed for the Python workers of every run, so dict
    # and set layouts in the workers do not differ between runs
    os.environ["PYTHONHASHSEED"] = "0"
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores()}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         # a pre-touched fixed heap keeps the JVM's share of the RSS
         # from following GC timing
         .config("spark.driver.extraJavaOptions",
                 "-Xms1g -XX:+AlwaysPreTouch"
                 f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir",
                     "file://" + os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait until it and the Python
    worker processes it started have ended."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # the workers were re-parented when the JVM exited: poll for them
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in workers if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


# --- inputs ----------------------------------------------------------------

class Inputs:
    """Corpus files, oracle and seeded query sets for one run."""

    def __init__(self, cache: str, work: str, seed: int, n_docs: int):
        self.seed = seed
        self.n_docs = n_docs
        self.pages = corpus.pages_path(cache, seed, n_docs)
        post, pos = corpus.postings_paths(cache, self.pages, cores())
        self.oracle = Oracle(post, pos, os.path.join(work, "tmp"))
        con = self.oracle.con
        self.words = [w for (w,) in con.execute(
            "SELECT term FROM post WHERE term NOT LIKE 'Z%'"
            " GROUP BY term ORDER BY count(*) DESC, term").fetchall()]
        self.zterms = [t for (t,) in con.execute(
            "SELECT term FROM post WHERE term LIKE 'Z%'"
            " GROUP BY term ORDER BY count(*) DESC, term").fetchall()]
        self.text_bytes = con.execute(
            f"SELECT sum(strlen(text)) FROM '{self.pages}/*.parquet'"
        ).fetchone()[0]

    def _word(self, rng: random.Random, band: str) -> str:
        w = self.words
        lo, hi = {"head": (0, 30), "middle": (200, 2000),
                  "tail": (len(w) // 2, len(w))}[band]
        return w[rng.randrange(min(lo, len(w) - 1), min(hi, len(w)))]

    @staticmethod
    def _zterm(word: str) -> str:
        from xapian_spark.analysis.tokenizer import TermGenerator

        return next(t for t in TermGenerator().index_text(word).terms
                    if t.startswith("Z"))

    def _doc_terms(self, rng: random.Random) -> List[Tuple[str, int]]:
        doc = rng.randrange(1, self.n_docs + 1)
        return self.oracle.con.execute(
            "SELECT term, p FROM pos WHERE doc_id = ? ORDER BY p",
            [doc]).fetchall()

    def parsed_queries(self, n: int, stream: int
                       ) -> List[Tuple[str, Tuple[str, List[str]]]]:
        """(query text, oracle spec), shapes cycling OR, AND, AND_NOT,
        PHRASE; words from the head, middle and tail of the corpus
        vocabulary. `stream` separates timed from warm-up queries."""
        rng = random.Random(f"{self.seed}:parsed:{stream}")
        out = []
        for i in range(n):
            shape = SHAPES[i % len(SHAPES)]
            if shape == "or":
                words = []
                while len(words) < 1 + i // len(SHAPES) % 3:
                    w = self._word(rng, rng.choice(
                        ("head", "middle", "tail")))
                    if w not in words:
                        words.append(w)
                out.append((" ".join(words),
                            ("or", [self._zterm(w) for w in words])))
            elif shape == "and":
                terms = sorted({t for t, _p in self._doc_terms(rng)})
                a, b = rng.sample(terms, 2)
                out.append((f"+{a} +{b}",
                            ("and", [self._zterm(a), self._zterm(b)])))
            elif shape == "andnot":
                a = self._word(rng, rng.choice(("head", "middle")))
                b = self._word(rng, "head")
                while b == a:
                    b = self._word(rng, "head")
                out.append((f"{a} -{b}",
                            ("andnot", [self._zterm(a), self._zterm(b)])))
            else:
                seq = self._doc_terms(rng)
                pairs = [(x[0], y[0]) for x, y in zip(seq, seq[1:])
                         if y[1] == x[1] + 1 and x[0] != y[0]]
                a, b = rng.choice(pairs)
                out.append((f'"{a} {b}"', ("phrase", [a, b])))
        return out

    def batch_block(self, n: int, stream: int):
        """(qid, [zterms]) block with repeated head terms, its op map and
        the oracle spec per qid; one query in four is AND."""
        rng = random.Random(f"{self.seed}:batch:{stream}")
        head = self.zterms[:20]
        rest = self.zterms[20:]
        block, ops, specs = [], {}, {}
        for i in range(n):
            qid = f"b{stream}-{i}"
            if i % 4 == 3:
                doc_z = sorted({t for (t,) in self.oracle.con.execute(
                    "SELECT term FROM post WHERE doc_id = ?"
                    " AND term LIKE 'Z%'",
                    [rng.randrange(1, self.n_docs + 1)]).fetchall()})
                terms = rng.sample(doc_z, 2)
                ops[qid] = "and"
            else:
                terms = [rng.choice(head)]
                while len(terms) < 1 + i % 3:
                    t = rng.choice(rest)
                    if t not in terms:
                        terms.append(t)
                ops[qid] = "or"
            block.append((qid, terms))
            specs[qid] = (ops[qid], terms)
        return block, ops, specs

    def wand_queries(self, n: int, stream: int) -> List[List[str]]:
        rng = random.Random(f"{self.seed}:wand:{stream}")
        return [[rng.choice(self.zterms[:20]),
                 rng.choice(self.zterms[20:])] for _ in range(n)]


# --- program calls -----------------------------------------------------------

def build_index(spark, tracer: Tracer, pages: str, out: str):
    """extract_text_udf → build_segments(keep_positions) → term_stats +
    stats, as a user would turn HTML pages into a queryable index."""
    from pyspark.sql import functions as F

    from xapian_spark.analysis.htmlparse import extract_text_udf
    from xapian_spark.index.segments import build_segments

    shutil.rmtree(out, ignore_errors=True)
    pages_df = spark.read.parquet(pages)
    docs = pages_df.select(
        "doc_id", extract_text_udf(F.col("html")).alias("text"))
    n_docs = corpus.read_pages(pages, ["doc_id"]).num_rows
    with tracer.span("index.segments.build") as rec:
        rec["docs"] = n_docs
        idx = build_segments(docs, out, n_segments=N_SEGMENTS,
                             keep_positions=True, resume=False)
    with tracer.span("index.segments.term_dict"):
        idx.term_stats().count()
        idx.stats()
    return idx


def open_index(spark, tracer: Tracer, path: str):
    """Open a stored index and gather its term dictionary and stats."""
    from xapian_spark.index.segments import SegmentIndex

    with tracer.span("index.segments.term_dict"):
        idx = SegmentIndex(spark, path)
        idx.term_stats().count()
        idx.stats()
    return idx


def index_matches(idx, oracle: Oracle) -> bool:
    st = idx.stats()
    got = {r["term"]: (r["tf"], r["cf"])
           for r in idx.term_stats().collect()}
    return (got == oracle.term_dict()
            and (st.doccount, st.total_doclen) == oracle.totals())


def disk_bytes(path: str) -> int:
    """Bytes of the index's files, leaving out Hadoop .crc sidecars."""
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.endswith(".crc"))
    return total


class Run:
    """Operation outcomes of one run: latencies, failures, units of work."""

    def __init__(self):
        self.latencies: List[float] = []
        self.attempted = 0
        self.failed = 0
        self.work = 0
        self.timed_s = 0.0

    def record(self, seconds: float, ok: bool, work: int = 1,
               timed: bool = True) -> None:
        """One checked operation; a failed one times as +inf."""
        self.attempted += 1
        if not ok:
            self.failed += 1
        if timed:
            self.latencies.append(seconds if ok else math.inf)
            self.work += work
            self.timed_s += seconds


# --- the workloads -----------------------------------------------------------

def parsed_query(enq, qp, tracer: Tracer, text: str, qid: str):
    with tracer.span("query.parser", qid):
        q = qp.parse_query(text)
    with tracer.span("query.executor.plan", qid):
        df = enq.get_mset(q, 0, K)
    with tracer.span("query.executor.exec", qid) as rec:
        rows = df.collect()
        rec["rows"] = len(rows)
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def wand_batch(we, tracer: Tracer, block, ops) -> Dict[str, list]:
    with tracer.span("query.wand.batch.plan"):
        df = we.get_mset_batch(block, K, ops_by_id=ops)
    with tracer.span("query.wand.batch.exec"):
        rows = df.collect()
    out: Dict[str, list] = {qid: [] for qid, _t in block}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
    return out


def wand_single(we, tracer: Tracer, terms: List[str], qid: str):
    with tracer.span("query.wand.single.plan", qid):
        df = we.get_mset(terms, K)
    with tracer.span("query.wand.single.exec", qid):
        rows = df.collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _timed(fn):
    """(result, seconds) of one operation. An exception is reported and
    gives None, a wrong answer, so the loop keeps measuring."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # noqa: BLE001 - the loop must keep running
        traceback.print_exc(file=sys.stderr)
        out = None
    return out, time.perf_counter() - t0


def run_query_ops(enq, qp, tracer, queries, expected, run: Run,
                  deadline: Optional[float], timed: bool, tag: str) -> None:
    """Closed loop over `queries`: once, or cycled until `deadline`."""
    i = 0
    while True:
        if deadline is None and i == len(queries):
            return
        # stop on a whole cycle of shapes, so every run times the same mix
        if (deadline is not None and i and i % len(SHAPES) == 0
                and time.perf_counter() >= deadline):
            return
        text, _spec = queries[i % len(queries)]
        got, dt = _timed(lambda: parsed_query(
            enq, qp, tracer, text, f"{tag}{i}"))
        ok = got is not None and matches(
            got, expected[i % len(queries)], K)
        run.record(dt, ok, timed=timed)
        i += 1


def batch_probe(idx, tracer: Tracer, inputs: "Inputs", run: Run) -> dict:
    """One WandEnquire.get_mset_batch over a block whose head terms
    repeat across queries; every query's answer checked."""
    from pyspark.sql import functions as F

    from xapian_spark.query.wand import WandEnquire

    block, ops, specs = inputs.batch_block(BATCH_SIZE, 0)
    expected = {q: inputs.oracle.topk(s, K) for q, s in specs.items()}
    got, dt = _timed(lambda: wand_batch(WandEnquire(idx), tracer, block,
                                        ops))
    for qid, _t in block:
        run.record(dt, got is not None
                   and matches(got[qid], expected[qid], K), timed=False)
    # the batch kernel decodes every chunk of every term the block names
    terms = sorted({t for _q, ts in block for t in ts})
    return {"query.wand.batch.chunks_read": idx.postings_chunks.filter(
        F.col("term").isin(terms)).count()}


def update_probe(spark, tracer: Tracer, idx, inputs: Inputs, path: str,
                 run: Run) -> dict:
    """One update cycle: replace_documents on re-generated pages that
    reuse existing doc_ids, single WAND queries over the grown segment
    set and its tombstones, then compact; each answer checked."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xapian_spark.analysis.htmlparse import extract_text_udf
    from xapian_spark.index.segments import compact, replace_documents
    from xapian_spark.io.pages import generate_page
    from xapian_spark.query.wand import WandEnquire

    rng = random.Random(f"{inputs.seed}:update")
    docs = sorted(rng.sample(range(inputs.n_docs), UPDATE_DOCS))
    pages = [generate_page(d, inputs.seed + REPLACE_SEED_OFFSET)
             for d in docs]
    new = spark.createDataFrame(pd.DataFrame({
        "doc_id": [d + 1 for d in docs],
        "html": [p["html"] for p in pages]})).select(
        "doc_id", extract_text_udf(F.col("html")).alias("text"))
    with tracer.span("index.segments.replace"):
        idx = replace_documents(idx, new, keep_positions=True)
    post, pos = corpus.analyze([d + 1 for d in docs],
                               [p["text"] for p in pages])
    inputs.oracle.replace(post, pos)
    segments = idx.chunks.select("seg_id").distinct().count()
    tomb = idx.tombstones()
    tombstones = tomb.count() if tomb is not None else 0
    we = WandEnquire(idx)
    for j, terms in enumerate(inputs.wand_queries(2, 0)):
        got, dt = _timed(lambda: wand_single(we, tracer, terms, f"u{j}"))
        run.record(dt, got is not None and matches(
            got, inputs.oracle.topk(("or", terms), K), K), timed=False)
    with tracer.span("index.segments.compact"):
        idx = compact(idx, path + "-compact", n_segments=N_SEGMENTS)
    terms = inputs.wand_queries(1, 1)[0]
    got, dt = _timed(lambda: wand_single(
        WandEnquire(idx), tracer, terms, "c0"))
    run.record(dt, got is not None and matches(
        got, inputs.oracle.topk(("or", terms), K), K), timed=False)
    return {"index.segments.segments_after": segments,
            "index.segments.tombstones": tombstones}


def kernel_rates(pages: str) -> dict:
    """Single-thread driver rates of the hot kernels on a fixed sample."""
    import numpy as np

    from xapian_spark.analysis.htmlparse import extract_text
    from xapian_spark.index.build import xapian_analyzer
    from xapian_spark.index.codec import decode_chunk, encode_chunks

    t = corpus.read_pages(pages).slice(0, KERNEL_SAMPLE)
    html = t.column("html").to_pylist()
    text = t.column("text").to_pylist()
    ids = t.column("doc_id").to_pylist()

    def rate(fn, units: int) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= 0.25:
                return n * units / dt

    out = {"analysis.htmlparse.extract_docs_per_s":
           rate(lambda: [extract_text(h) for h in html], len(html)),
           "analysis.tokenizer.docs_per_s":
           rate(lambda: [xapian_analyzer(x) for x in text], len(text))}
    lists: Dict[str, list] = {}
    for doc_id, x in zip(ids, text):
        terms = xapian_analyzer(x)
        dl = sum(w for _t, w, _p in terms)
        for term, wdf, _p in terms:
            lists.setdefault(term, []).append((doc_id, wdf, dl))
    arrays = [tuple(np.array(c, dtype=np.int64) for c in zip(*v))
              for v in lists.values()]
    n_post = sum(a[0].size for a in arrays)
    chunks = [c.data for a in arrays for c in encode_chunks(*a)]
    out["index.codec.encode_postings_per_s"] = rate(
        lambda: [encode_chunks(*a) for a in arrays], n_post)
    out["index.codec.decode_postings_per_s"] = rate(
        lambda: [decode_chunk(c) for c in chunks], n_post)
    return out


# --- orchestration -------------------------------------------------------------

def execute(root: str, workload: str, seed: int, seconds: float,
            trace: bool) -> dict:
    """Run one workload and return the result object run.py prints;
    spans and a report with the run's end-to-end numbers are written
    under .bench_work/out/."""
    work_root = os.path.join(root, ".bench_work")
    cache = os.path.join(work_root, "cache")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    outdir = os.path.join(work_root, "out")
    for d in (cache, os.path.join(work, "tmp"), outdir):
        os.makedirs(d, exist_ok=True)
    try:
        res = _execute(root, work, cache, workload, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stem = os.path.join(outdir, f"{workload}-s{seed}-t{int(trace)}")
    res["tracer"].write(stem + ".spans.jsonl")
    report = {k: res[k] for k in ("e2e", "layers", "notes")}
    with open(stem + ".report.json", "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report["e2e"], sort_keys=True), file=sys.stderr)
    run: Run = res["run"]
    catalogue = per_layer_catalogue() if trace else END_TO_END
    values = res["layers"] if trace else res["e2e"]
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u, _b in catalogue},
    }


def _execute(root, work, cache, workload, seed, seconds, trace) -> dict:
    """Set-up, timed phase and (traced) probe, with the Spark session
    stopped before returning."""
    from xapian_spark.query.executor import Enquire
    from xapian_spark.query.parser import QueryParser

    n_docs = BUILD_DOCS if workload == "build" else INDEX_DOCS
    inputs = Inputs(cache, work, seed, n_docs)
    if workload == "build":
        setup_pages = corpus.pages_path(cache, seed, WARMUP_DOCS)
    else:
        setup_pages = inputs.pages
        warmups = inputs.parsed_queries(len(SHAPES), 1)
        warm_exp = [inputs.oracle.topk(s, K) for _q, s in warmups]
        queries = inputs.parsed_queries(QUERY_POOL, 0)
        expected = [inputs.oracle.topk(s, K) for _q, s in queries]
    run = Run()
    qp = QueryParser()
    path = os.path.join(work, "index")
    notes: dict = {"n_docs": n_docs, "cores": cores(), "seconds": seconds}
    rss = RssSampler().__enter__()
    t0 = time.perf_counter()
    spark = start_session(root, work, trace)
    try:
        tracer = Tracer(spark.sparkContext if trace else None)
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        idx = build_index(spark, tracer, setup_pages, path)
        build_s = time.perf_counter() - t
        if workload == "query":
            run.record(build_s, index_matches(idx, inputs.oracle),
                       timed=False)
        opens = []
        for _r in range(SETUP_REPS):
            t = time.perf_counter()
            idx = open_index(spark, tracer, path)
            opens.append(time.perf_counter() - t)
        t = time.perf_counter()
        if workload == "query":
            enq = Enquire(idx.to_inverted_index())
            run_query_ops(enq, qp, tracer, warmups, warm_exp, run, None,
                          False, "w")
        warm_s = time.perf_counter() - t
        setup_s = session_s + build_s + median(opens) + warm_s

        mark = len(tracer.spans)
        deadline = time.perf_counter() + seconds
        if workload == "build":
            path = os.path.join(work, "built")
            while (len(run.latencies) < MIN_BUILDS
                   or time.perf_counter() < deadline):
                idx, dt = _timed(lambda: build_index(
                    spark, tracer, inputs.pages, path))
                run.record(dt, idx is not None
                           and index_matches(idx, inputs.oracle),
                           work=n_docs)
        else:
            run_query_ops(enq, qp, tracer, queries, expected, run,
                          deadline, True, "q")
        timed_spans = tracer.spans[mark:]
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": min(median(run.latencies), 1e9),
            "throughput_per_s": run.work / run.timed_s,
            "index_bytes_per_text_byte":
                disk_bytes(path) / inputs.text_bytes,
        }
        notes.update(session_s=session_s, setup_build_s=build_s,
                     open_s=opens, warmup_s=warm_s,
                     op_latencies_s=run.latencies)
        tail = tail_percentile(run.latencies)
        if tail is not None:
            notes["op_tail"] = {"p": tail[0], "s": tail[1],
                                "n": len(run.latencies)}
        layers: dict = {}
        if trace:
            top = sum(s["end"] - s["start"] for s in timed_spans
                      if s["parent"] is None)
            layers["trace.layer_coverage"] = top / run.timed_s
            if workload != "query":
                enq = Enquire(idx.to_inverted_index())
                probe = inputs.parsed_queries(len(SHAPES), 2)
                run_query_ops(enq, qp, tracer, probe,
                              [inputs.oracle.topk(s, K) for _q, s in probe],
                              run, None, False, "p")
            layers.update(batch_probe(idx, tracer, inputs, run))
            layers.update(update_probe(spark, tracer, idx, inputs, path,
                                       run))
    finally:
        stop_session(spark)
        rss.__exit__()
        inputs.oracle.close()
    e2e["peak_rss_mb"] = rss.peak / 2**20
    if trace:
        layers.update(kernel_rates(inputs.pages))
        layers.update(_eventlog_layers(work, tracer))
    return {"e2e": e2e, "layers": layers, "notes": notes, "run": run,
            "tracer": tracer}


def _build_stage(ops: List[str]) -> str:
    if "MapInPandas" in ops:
        return "invert"
    if any(o in eventlog.UDF_NODES for o in ops):
        return "exchange"
    return "manifest"


def _eventlog_layers(work, tracer) -> dict:
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    events = eventlog.read_events(logs[0])
    groups = eventlog.group_metrics(
        events, split={"index.segments.build": _build_stage})
    out = {}
    for group, fields in GROUPS:
        g = groups.get(group, {})
        wall = sum(tracer.durations(group))
        for f in fields:
            if f == "wall_s":
                v = wall if wall else g.get("covered_s", 0.0)
            elif f == "driver_s":
                v = max(wall - g.get("covered_s", 0.0), 0.0)
            else:
                v = g.get(f, 0)
            out[f"{group}.{f}"] = v
    built = sum(s.get("docs", 0) for s in tracer.spans
                if s["name"] == "index.segments.build")
    out["index.segments.build.udf_rows_per_doc"] = (
        groups.get("index.segments.build", {}).get("udf_rows", 0)
        / max(built, 1))
    ex = groups.get("query.executor.exec", {})
    n_q = len(tracer.durations("query.executor.exec"))
    out["query.executor.jobs_per_query"] = (
        (ex.get("jobs", 0) + groups.get("query.executor.plan", {})
         .get("jobs", 0)) / max(n_q, 1))
    returned = sum(s.get("rows", 0) for s in tracer.spans
                   if s["name"] == "query.executor.exec")
    out["query.executor.rows_scanned_per_result"] = (
        ex.get("input_records", 0) / max(returned, 1))
    parse = tracer.durations("query.parser")
    out["query.parser.parse_s"] = median(parse) if parse else 0.0
    return out
