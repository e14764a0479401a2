"""Build / serve / ingest benchmark for caterpillar_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from spans around the benchmark's calls into the program.  See
perfbench/README.md for the workloads, the corpus and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from typing import Dict, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probes import Tracer, cpu_times, descendants, process_age_s  # noqa: E402

CORES = min(2, len(os.sched_getaffinity(0)))
NUM_BUCKETS = 8
K = 10
BASE_DOCS = 1000
BATCH_DOCS = 100
FRESH_QUERIES = 2          # fresh-handle WAND queries after each ingest append
# --seconds buys one timed round per SECONDS_PER_ROUND, about what a round
# takes on a 4-vCPU host.  The count does not depend on the clock, so a
# faster program or host does the same work (on ingest, over an index of
# the same size) rather than more of it.
SECONDS_PER_ROUND = 7
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def start_spark(work: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_size(path: str) -> Dict[str, int]:
    """Files and bytes per top-level layout directory of an index."""
    out: Dict[str, int] = {"files": 0, "bytes": 0}
    for dirpath, _, files in os.walk(path):
        rel = os.path.relpath(dirpath, path).split(os.sep)[0]
        layout = rel if rel in ("postings", "lists", "forward", "term_stats",
                                "docs") else "other"
        for f in files:
            size = os.path.getsize(os.path.join(dirpath, f))
            out["files"] += 1
            out["bytes"] += size
            out[layout] = out.get(layout, 0) + size
    return out


class Bench:
    """One run: a Spark session, a work directory, the tracer and tallies."""

    def __init__(self, args):
        import checks
        import corpus

        self.args = args
        self.corpus = corpus.Corpus(args.seed)
        self.checks = checks
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        for d in ("spark-local", "tmp", "data"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        self.spark = start_spark(self.work)
        self.spark.sparkContext.setLogLevel("ERROR")
        log(f"spark up at {process_age_s():.2f} s")
        self.tracer = Tracer(self.spark, self.spark.sparkContext._gateway.proc.pid,
                             bool(args.trace))
        self.tracer.start()
        self.attempted = 0
        self.failed = 0
        self.check_failures: List[str] = []
        self.rounds: List[dict] = []
        self.calib: List[float] = []
        self.build_calib: List[float] = []
        self.index_size: Dict[str, int] = {}
        self.phase = "setup"

    # -- helpers -----------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.work, "data", name)

    def write_docs(self, docs, name: str) -> str:
        p = self.path(name)
        os.makedirs(p, exist_ok=True)
        docs.write(os.path.join(p, "part-0.parquet"))
        return p

    def span(self, name: str):
        return self.tracer.span(f"{self.phase}:{name}")

    def frames(self, parquet: str):
        from caterpillar_spark.framing import build_frames
        from caterpillar_spark.sources import ingest_webtext

        return build_frames(ingest_webtext(self.spark.read.parquet(parquet)),
                            metadata_cols=["lang"])

    def build(self, parquet: str, index: str, n_docs: int, write):
        """Index a parquet corpus: ``ingest_webtext`` -> ``build_frames`` ->
        ``write(frames, index)``.  When traced, the frames are materialised
        in their own span first, so framing and index writing show apart."""
        frames = self.frames(parquet)
        if self.tracer.enabled:
            with self.span("framing") as sp:
                frames.persist()
                sp.counts["frames"] = frames.count()
                sp.counts["docs"] = n_docs
        with self.span("indexing.write"):
            return write(frames, index)

    def doc_langs(self, *parquets: str) -> Dict[int, str]:
        """doc_id -> lang for the generated docs written to ``parquets``,
        hashing urls with Spark's built-in xxhash64 (the engine's
        documented doc_id)."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(*parquets)
        return {r[0]: r[1] for r in df.select(F.xxhash64("url"), "lang").collect()}

    def check(self, errors: List[str], what: str) -> bool:
        for e in errors[:5]:
            log(f"CHECK FAILED [{what}]: {e}")
        if errors:
            self.check_failures.append(what)
        return not errors

    # -- query operations --------------------------------------------------

    def wand(self, ci, terms) -> list:
        from caterpillar_spark.query.wand import wand_topk

        metrics = {} if self.tracer.enabled else None
        with self.span("wand") as sp:
            rows = wand_topk(ci, list(terms), k=K, metrics=metrics).collect()
        if metrics is not None:
            sp.counts["blocks_scored"] = metrics["blocks_scored"].value
            sp.counts["blocks_skipped"] = metrics["blocks_skipped"].value
        return [(r["doc_id"], r["score"]) for r in rows]

    def search(self, idx, terms) -> list:
        from caterpillar_spark.query import search

        with self.span("engine"):
            rows = search(idx, k=K, should=list(terms), unit="document",
                          scorer="bm25_doc").collect()
        return [(r["doc_id"], r["score"]) for r in rows]

    def parser(self, idx, text: str) -> list:
        from caterpillar_spark.query import execute_query, parse_query

        with self.span("parser") as sp:
            rows = execute_query(idx, text, k=K, scorer="bm25_doc").collect()
        if self.tracer.enabled:
            t = time.perf_counter()
            parse_query(text)
            sp.counts["parse_s"] = time.perf_counter() - t
        return [(r["doc_id"], r["score"]) for r in rows]

    def answer(self, q, idx, ci) -> list:
        import corpus as C

        if q.kind in (C.WAND_REPEAT, C.WAND_NEW):
            return self.wand(ci, q.terms)
        if q.kind == C.SEARCH:
            return self.search(idx, q.terms)
        return self.parser(idx, q.text)

    def check_answer(self, q, ans, snap, doc_lang) -> bool:
        """Check one stream query's answer; True when it holds."""
        import corpus as C

        chk = self.checks
        if q.kind in (C.WAND_REPEAT, C.WAND_NEW):
            m = snap.manifest
            return self.check(chk.check_topk(
                ans, chk.bm25_scores(snap, q.terms, m["n_docs"], m["avgdl"]), K),
                f"wand {q.terms}")
        if q.kind == C.SEARCH:
            return self.check(chk.check_topk(
                ans, chk.bm25_scores(snap, q.terms, len(snap.dl), snap.ledger_avgdl()), K),
                f"search {q.terms}")
        return self.check(chk.check_parser_hits(
            ans, snap, K, q.must, q.must_not, q.phrase, q.lang, doc_lang),
            f"parser {q.text!r}")

    def run_query(self, q, idx, ci, snap, doc_lang) -> bool:
        return self.check_answer(q, self.answer(q, idx, ci), snap, doc_lang)

    def index_checks(self, index: str, n_docs: int):
        snap = self.checks.Snapshot(index)
        ok = self.check(self.checks.check_n_docs(snap, n_docs), "n_docs")
        ok = self.check(self.checks.check_conservation(snap), "conservation") and ok
        return snap, ok

    def timed(self, fn):
        """Run one timed operation: (seconds, result or None if it raised,
        Spark jobs it submitted)."""
        self.tracer.flush()
        first = self.tracer.store.next_job
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:
            log(traceback.format_exc())
            out = None
        dt = time.perf_counter() - t
        self.tracer.flush()
        return dt, out, self.tracer.store.next_job - first

    def end_round(self, ops: Dict[str, list], failed: int) -> None:
        """Record one timed round: ``ops`` maps a class (``wand`` or
        ``other``) to the (seconds, Spark jobs) of each of its operations."""
        self.attempted += sum(len(v) for v in ops.values())
        self.failed += failed
        self.rounds.append(ops)
        self.calib += [self.calibrate() for _ in range(2)]

    def setup_done(self) -> None:
        self.setup_s = process_age_s()
        self.steal0 = cpu_times()
        log(f"set-up done at {self.setup_s:.2f} s")
        self.phase = "timed"

    def calibrate(self) -> float:
        """Seconds for a fixed pair of jobs that call no program code: a
        JVM aggregation and a pandas UDF pass through the Python workers.
        Measured three times right after the base build (after one
        uncounted cold sample), twice after every round and, on serve,
        twice after the second build, outside the timed operations, to
        show how fast the host runs Spark at the moment.  ``build_rel`` divides by the median
        of the samples next to the timed build, the other ``_rel`` metrics
        by the median of all of a run's samples."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        self.spark.range(200_000, numPartitions=CORES).groupBy(
            (F.col("id") % 97).alias("k")).count().collect()
        self.spark.range(20_000, numPartitions=CORES).mapInPandas(
            _identity, "id long").count()
        return time.perf_counter() - t


def _identity(batches):
    yield from batches


# ---------------------------------------------------------------------------
# Workloads


def setup_base(b: Bench, write):
    """Write the base corpus and index it, cold, with ``write(frames,
    path)``, timing that as the build (serve times ``rebuild`` instead).
    Returns (docs, corpus parquet, index path, snapshot)."""
    docs = b.corpus.docs(0, BASE_DOCS)
    src = b.write_docs(docs, "corpus")
    index = b.path("idx")
    wall, out, jobs = b.timed(lambda: b.build(src, index, BASE_DOCS, write))
    if out is None:
        raise RuntimeError("base index build failed")
    b.build_s, b.build_jobs = wall, jobs
    # The process's first calibration runs cold (Spark generates and the
    # JIT compiles its plans) and took about twice a warm one: not counted.
    b.calibrate()
    b.build_calib = [b.calibrate() for _ in range(3)]
    b.calib += b.build_calib
    log(f"base build {wall:.2f} s, {jobs} jobs, done at {process_age_s():.2f} s")
    snap, _ = b.index_checks(index, BASE_DOCS)
    return docs, src, index, snap


def rebuild(b: Bench, src: str, write) -> None:
    """Build the base corpus once more, after the timed rounds, into a path
    of its own, and time that as serve's build: warm, after a cold build of
    the same corpus and the queries.  A build timed right after a small
    warm-up still ran while the JIT compiled the build's code, 1-3 s slower
    than a later build in the same process and twice as spread between
    runs (see README)."""
    index = b.path("idx-again")
    b.phase = "rebuild"
    wall, out, jobs = b.timed(lambda: b.build(src, index, BASE_DOCS, write))
    if out is None or jobs != b.build_jobs:
        raise RuntimeError(f"second base build failed ({jobs} jobs, first {b.build_jobs})")
    b.build_s = wall
    # The host's speed drifts over tens of seconds, so the build is set
    # against the samples on either side of it: the last round's two and
    # two more now.
    after = [b.calibrate() for _ in range(2)]
    b.build_calib = b.calib[-2:] + after
    b.calib += after
    log(f"second build {wall:.2f} s, {jobs} jobs, done at {process_age_s():.2f} s")
    b.phase = "check"
    b.index_checks(index, BASE_DOCS)
    shutil.rmtree(index)


def workload_serve(b: Bench, seconds: float) -> None:
    """Closed loop, one client: rounds of the query stream on one handle."""
    import corpus as C
    from caterpillar_spark.indexing import InvertedIndex, build_index

    def write(frames, index):
        return build_index(frames, index, num_buckets=NUM_BUCKETS)

    b.phase = "warm"                       # the timed build is the rebuild
    docs, src, index, snap = setup_base(b, write)
    b.index_size, b.index_docs = tree_size(index), BASE_DOCS
    doc_lang = b.doc_langs(src)
    idx = InvertedIndex(b.spark, index)
    ci = idx.compressed()
    stream = C.QueryStream(docs, b.args.seed)
    b.phase = "warm"
    for q in stream.next_round():          # warms workers and the handle caches
        b.run_query(q, idx, ci, snap, doc_lang)
    b.setup_done()
    for _ in range(n_rounds(seconds)):
        ops: Dict[str, list] = {"wand": [], "other": []}
        bad, line = 0, []
        for q in stream.next_round():
            b.phase = "timed"
            dt, ans, n = b.timed(lambda: b.answer(q, idx, ci))
            ops["wand" if q.kind in (C.WAND_REPEAT, C.WAND_NEW) else "other"].append((dt, n))
            line.append(f"{q.kind} {dt:.2f}s/{n}j")
            b.phase = "check"
            bad += not (ans is not None and b.check_answer(q, ans, snap, doc_lang))
        log("round: " + ", ".join(line))
        b.end_round(ops, bad)
    log(f"stream: {stream.all_seen} of {stream.issued} queries reused only seen terms")
    rebuild(b, src, write)


def workload_ingest(b: Bench, seconds: float) -> None:
    """Closed loop, one client: rounds of (append a batch of never-seen
    docs, then ``FRESH_QUERIES`` times: open a fresh handle and run one WAND
    query), ending with ``compact_statistics``.  The base index is itself
    the first ``append_batch`` into an empty path, on a cold JVM, which
    also warms the append path for the timed appends."""
    import numpy as np

    import corpus as C
    from caterpillar_spark.indexing import InvertedIndex
    from caterpillar_spark.streaming import append_batch, compact_statistics

    base, base_src, index, _ = setup_base(b, lambda frames, index: append_batch(
        frames, index, num_buckets=NUM_BUCKETS))
    n_docs = BASE_DOCS
    head = C.QueryStream(base, b.args.seed).head[:10]
    words = C.vocabulary()
    rng = np.random.default_rng([b.args.seed, 0x16])
    next_doc = BASE_DOCS
    written = [base_src]                   # every corpus parquet indexed so far

    def batch(name):
        """The next batch as parquet, and ``FRESH_QUERIES`` queries of one
        hot base term and one word of the batch each."""
        nonlocal next_doc
        docs = b.corpus.docs(next_doc, BATCH_DOCS)
        next_doc += BATCH_DOCS
        queries = []
        for _ in range(FRESH_QUERIES):
            sents = docs.sentences[int(rng.integers(0, len(docs)))]
            new_word = words[int(rng.choice(np.concatenate(sents)))]
            queries.append((words[int(rng.choice(head))], new_word))
        written.append(b.write_docs(docs, name))
        return written[-1], queries

    def one_append(parquet):
        with b.span("incremental.append") as sp:
            append_batch(b.frames(parquet), index, num_buckets=NUM_BUCKETS)
        return sp

    def fresh_wand(terms):
        return b.wand(InvertedIndex(b.spark, index).compressed(), terms)

    def check_wand(snap, ans, terms) -> bool:
        m = snap.manifest
        return ans is not None and b.check(b.checks.check_topk(
            ans, b.checks.bm25_scores(snap, terms, m["n_docs"], m["avgdl"]), K),
            f"fresh wand {terms}")

    b.phase = "warm"                       # warms the fresh-handle query path
    terms = (words[head[0]], words[head[1]])
    ans = fresh_wand(terms)
    check_wand(b.index_checks(index, n_docs)[0], ans, terms)
    b.setup_done()
    for _ in range(n_rounds(seconds)):
        b.phase = "prepare"
        parquet, queries = batch(f"batch-{len(b.rounds)}")
        before = tree_size(index)
        b.phase = "timed"
        append_s, appended, append_jobs = b.timed(lambda: one_append(parquet))
        after = tree_size(index)
        if appended is not None:
            n_docs += BATCH_DOCS
            appended.counts.update(files_added=after["files"] - before["files"],
                                   bytes_added=after["bytes"] - before["bytes"])
        wands = [b.timed(lambda: fresh_wand(terms)) for terms in queries]
        b.phase = "check"
        snap, ok = b.index_checks(index, n_docs)
        bad = 0 if appended is not None and ok else 1
        bad += sum(not check_wand(snap, ans, terms)
                   for (_, ans, _), terms in zip(wands, queries))
        if not b.rounds:
            b.index_size, b.index_docs = after, n_docs
        b.end_round({"wand": [(dt, jobs) for dt, _, jobs in wands],
                     "other": [(append_s, append_jobs)]}, bad)
    b.phase = "check"
    with b.span("incremental.compact"):
        compact_statistics(InvertedIndex(b.spark, index))
    snap, _ = b.index_checks(index, n_docs)
    if b.tracer.enabled:
        # the query layers the timed loop does not call, once, for the trace
        stream = C.QueryStream(base, b.args.seed)
        doc_lang = b.doc_langs(*written)
        idx = InvertedIndex(b.spark, index)
        for q in stream.next_round():
            if q.kind in (C.SEARCH, C.PARSER):
                b.run_query(q, idx, None, snap, doc_lang)


WORKLOADS = {"serve": workload_serve, "ingest": workload_ingest}


# ---------------------------------------------------------------------------
# Metrics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(b: Bench) -> Dict[str, dict]:
    """Times of the build and of each class of operation are given in
    units of the run's calibration job (``Bench.calibrate``), which calls no
    program code: the host's speed drifts by tens of percent over minutes,
    and the ratio cancels that drift where raw seconds cannot (see README)."""
    size, calib = b.index_size, median(b.calib)
    return {
        "setup_s": {"value": b.setup_s, "unit": "s"},
        "build_rel": {"value": b.build_s / median(b.build_calib), "unit": "calib"},
        "build_spark_jobs": {"value": b.build_jobs, "unit": "count"},
        "wand_p50_rel": {"value": class_p50(b, "wand", 0) / calib, "unit": "calib"},
        "wand_spark_jobs": {"value": class_p50(b, "wand", 1), "unit": "count"},
        "other_p50_rel": {"value": class_p50(b, "other", 0) / calib, "unit": "calib"},
        "other_spark_jobs": {"value": class_p50(b, "other", 1), "unit": "count"},
        "index_bytes_per_doc": {"value": size["bytes"] / b.index_docs, "unit": "B/doc"},
        "index_files": {"value": size["files"], "unit": "count"},
    }


def class_p50(b: Bench, cls: str, field: int) -> float:
    """Median over the rounds of the mean seconds (``field`` 0) or Spark
    jobs (1) per operation of class ``cls`` in the round."""
    return median(statistics.fmean(op[field] for op in r[cls]) for r in b.rounds)


def round_p50(b: Bench) -> float:
    return median(sum(op[0] for ops in r.values() for op in ops) for r in b.rounds)


def n_rounds(seconds: float) -> int:
    return max(1, round(seconds / SECONDS_PER_ROUND))


PER_LAYER_UNITS = {
    "round.p50_s": "s", "build.s": "s", "build.docs_per_s": "docs/s",
    "framing.s": "s", "framing.docs_per_s": "docs/s", "framing.frames": "count",
    "framing.python_cpu_s": "s", "framing.executor_run_s": "s",
    "framing.executor_cpu_s": "s",
    "indexing.write_s": "s", "indexing.spark_jobs": "count",
    "indexing.tasks": "count", "indexing.shuffle_write_bytes": "B",
    "indexing.spill_bytes": "B", "indexing.python_cpu_s": "s",
    "indexing.bytes.postings": "B", "indexing.bytes.lists": "B",
    "indexing.bytes.forward": "B", "indexing.bytes.term_stats": "B",
    "indexing.bytes.docs": "B", "indexing.bytes.other": "B",
    "wand.p50_s": "s", "wand.driver_s": "s", "wand.job_s": "s",
    "wand.spark_jobs": "count", "wand.tasks": "count", "wand.python_cpu_s": "s",
    "wand.blocks_scored": "count", "wand.blocks_skipped": "count",
    "engine.p50_s": "s", "engine.driver_s": "s", "engine.job_s": "s",
    "engine.spark_jobs": "count", "engine.tasks": "count", "engine.shuffle_bytes": "B",
    "parser.p50_s": "s", "parser.parse_s": "s", "parser.driver_s": "s",
    "parser.job_s": "s", "parser.spark_jobs": "count", "parser.tasks": "count",
    "incremental.spark_jobs": "count", "incremental.files_added": "count",
    "incremental.bytes_added": "B",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.python_cpu_s": "s",
    "host.steal_share": "share", "host.calib_s": "s",
    "trace.bookkeeping_s": "s",
}


def per_layer(b: Bench) -> Dict[str, dict]:
    """Per-call medians of each layer's spans, per-round sums of the timed
    spans for ``spark.*``, the raw end-to-end times and host context."""
    by_layer: Dict[str, Dict[str, list]] = {}
    for sp in b.tracer.spans:
        phase, name = sp.name.split(":", 1)
        by_layer.setdefault(name, {}).setdefault(phase, []).append(sp)
    # A layer's figures come from its timed calls when the loop makes
    # them, else from its set-up and check calls; warm-up calls never count.
    by_layer = {name: phases.get("timed") or [
        sp for ph, sps in phases.items() if ph != "warm" for sp in sps]
        for name, phases in by_layer.items()}
    out: Dict[str, float] = {
        "host.calib_s": median(b.calib), "round.p50_s": round_p50(b),
        "build.s": b.build_s, "build.docs_per_s": BASE_DOCS / b.build_s,
    }

    def layer(prefix, spans):
        out[f"{prefix}.p50_s" if prefix != "indexing" else "indexing.write_s"] = \
            median(s.wall_s for s in spans)
        out[f"{prefix}.driver_s"] = median(s.driver_s for s in spans)
        out[f"{prefix}.job_s"] = median(s.job_s for s in spans)
        out[f"{prefix}.spark_jobs"] = median(len(s.jobs) for s in spans)
        out[f"{prefix}.tasks"] = median(sum(j.tasks for j in s.jobs) for s in spans)
        out[f"{prefix}.python_cpu_s"] = median(s.python_cpu_s for s in spans)

    fr = by_layer.get("framing", [])
    out["framing.s"] = median(s.wall_s for s in fr)
    out["framing.docs_per_s"] = median(s.counts["docs"] / s.wall_s for s in fr)
    out["framing.frames"] = median(s.counts["frames"] for s in fr)
    out["framing.python_cpu_s"] = median(s.python_cpu_s for s in fr)
    out["framing.executor_run_s"] = median(s.stages.run_s for s in fr)
    out["framing.executor_cpu_s"] = median(s.stages.cpu_s for s in fr)
    ix = by_layer.get("indexing.write", [])
    layer("indexing", ix)
    out["indexing.shuffle_write_bytes"] = median(s.stages.shuffle_write_bytes for s in ix)
    out["indexing.spill_bytes"] = median(s.stages.spill_bytes for s in ix)
    for part in ("postings", "lists", "forward", "term_stats", "docs", "other"):
        out[f"indexing.bytes.{part}"] = b.index_size.get(part, 0)
    wd = by_layer.get("wand", [])
    layer("wand", wd)
    out["wand.blocks_scored"] = median(s.counts["blocks_scored"] for s in wd)
    out["wand.blocks_skipped"] = median(s.counts["blocks_skipped"] for s in wd)
    en = by_layer.get("engine", [])
    layer("engine", en)
    out["engine.shuffle_bytes"] = median(s.stages.shuffle_write_bytes for s in en)
    ps = by_layer.get("parser", [])
    layer("parser", ps)
    out["parser.parse_s"] = median(s.counts["parse_s"] for s in ps)
    inc = by_layer.get("incremental.append", [])
    out["incremental.spark_jobs"] = median(len(s.jobs) for s in inc)
    out["incremental.files_added"] = median(s.counts["files_added"] for s in inc)
    out["incremental.bytes_added"] = median(s.counts["bytes_added"] for s in inc)
    timed = [s for s in b.tracer.spans if s.name.startswith("timed:")]
    n = max(len(b.rounds), 1)
    out["spark.executor_run_s"] = sum(s.stages.run_s for s in timed) / n
    out["spark.executor_cpu_s"] = sum(s.stages.cpu_s for s in timed) / n
    out["spark.gc_s"] = sum(s.stages.gc_s for s in timed) / n
    out["spark.shuffle_write_bytes"] = sum(s.stages.shuffle_write_bytes for s in timed) / n
    out["spark.python_cpu_s"] = sum(s.python_cpu_s for s in timed) / n
    c0, c1 = b.steal0, cpu_times()
    out["host.steal_share"] = (c1["steal"] - c0["steal"]) / max(c1["total"] - c0["total"], 1)
    out["trace.bookkeeping_s"] = b.tracer.bookkeeping_s / max(b.attempted, 1)
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def write_trace(b: Bench) -> str:
    d = os.path.join(WORK_ROOT, "traces")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"{b.args.workload}-seed{b.args.seed}.json")
    with open(p, "w") as fh:
        json.dump({"workload": b.args.workload, "seed": b.args.seed,
                   "rounds": b.rounds,
                   "spans": [s.record() for s in b.tracer.spans]}, fh, indent=1)
    return p


def overhead_line(b: Bench) -> str:
    """Traced round p50 against the median of the untraced runs of this
    workload made in this checkout."""
    traced = round_p50(b)
    try:
        with open(untraced_log(b.args.workload)) as fh:
            base = median(json.loads(line)["round_p50_s"] for line in fh)
    except OSError:
        base = 0.0
    if not base:
        return f"trace overhead: traced round p50 {traced:.3f} s; no untraced run to compare"
    return (f"trace overhead: traced round p50 {traced:.3f} s vs untraced median "
            f"{base:.3f} s ({100 * (traced / base - 1):+.1f}%)")


def untraced_log(workload: str) -> str:
    return os.path.join(WORK_ROOT, f"untraced-{workload}.jsonl")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "caterpillar_spark", "__init__.py")):
        log(f"caterpillar_spark not found under {ROOT}; run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    b = Bench(args)
    try:
        WORKLOADS[args.workload](b, args.seconds)
        b.tracer.flush()
        metrics = per_layer(b) if args.trace else end_to_end(b)
        if args.trace:
            log(f"trace written to {write_trace(b)}")
            print(overhead_line(b))
        else:
            with open(untraced_log(args.workload), "a") as fh:
                fh.write(json.dumps({"round_p50_s": round_p50(b), "calib_s": median(
                    b.calib), **{k: v["value"] for k, v in metrics.items()}}) + "\n")
        print(f"calib p50 {median(b.calib):.3f} s; rounds={len(b.rounds)} " + " ".join(
            "/".join(f"{cls}:{s:.3f}s:{j}j" for cls, ops in r.items() for s, j in ops)
            for r in b.rounds))
    finally:
        stop_spark(b.spark)
        shutil.rmtree(b.work, ignore_errors=True)
    print(json.dumps({
        "correct": not b.check_failures,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
