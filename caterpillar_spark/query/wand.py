"""Block-max WAND top-k BM25 over the compressed posting lists.

The scale-path retrieval engine the north_rule asks for: posting-list
intersection/union with block-max pruning executed as a distributed
job over the (term, block) rows of
:mod:`caterpillar_spark.indexing.postinglists`.

Execution shape:

1. the block rows for the query terms are read with term-bucket
   partition pruning + a term predicate (parquet row-group stats prune
   within a bucket because files are sorted by term);
2. per-term document frequencies come from the block metadata alone
   (sum of n_docs — no decode), idf is computed driver-side exactly as
   the DataFrame engine does (query/engine.py:_resolve_weights);
3. rows are hash-repartitioned by ``block`` — blocks are doc-range
   aligned across terms, so all lists' fragments for one doc range land
   in one task and no doc spans two tasks;
4. inside ``mapPartitions`` each task sorts its block groups by their
   block-max upper bound (sum over present terms of idf*max_score_q)
   and processes them best-first, keeping a running top-k; a group
   whose bound is strictly below the task's current kth score is
   skipped without decoding — the block-max WAND pruning step.  For
   conjunctive mode a group missing any required term is skipped
   outright (block-level intersection).  Skips are *exact*: a skipped
   group provably cannot alter that task's top-k, and the global top-k
   is the merge of per-task top-ks (TakeOrderedAndProject, k*P rows).

Scoring is Okapi BM25 (k1=1.2, b=0.75 defaults, north_star) at
document granularity: tf summed over the doc's frames, dl = doc token
count, ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``.
"""

from __future__ import annotations

import heapq
import json
import os
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from caterpillar_spark.indexing.build import atomic_write_json, write_table
from caterpillar_spark.indexing.postinglists import (
    BM25_B,
    BM25_K1,
    build_posting_lists,
    posting_list_stats,
)

_NEEDED = [
    "term", "block", "n_docs", "first_doc",
    "doc_gaps", "freqs", "doc_lens", "max_score_q",
]


@dataclass
class CompressedIndex:
    """Persisted (or in-memory) compressed index + the corpus constants
    BM25 needs.  ``meta.json`` next to the parquet carries them across
    sessions."""

    lists: DataFrame
    n_docs: int
    avgdl: float
    num_buckets: Optional[int] = None
    block_bits: Optional[int] = None

    @classmethod
    def build(
        cls,
        postings: DataFrame,
        num_buckets: int = 64,
        block_bits: int = 4,
        path: Optional[str] = None,
        doc_lens: Optional[DataFrame] = None,
    ) -> "CompressedIndex":
        """``doc_lens`` (doc_id, dl) overrides the postings-derived
        document lengths — pass the frames-derived relation to keep dl
        identical to the DataFrame engine when frames with no surviving
        postings exist (all tokens stop-marked)."""
        from caterpillar_spark.indexing.postinglists import doc_level_postings

        corpus = (
            doc_level_postings(postings, doc_lens=doc_lens)
            .select("doc_id", "dl")
            .dropDuplicates(["doc_id"])
            .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        n_docs, avgdl = int(corpus["n"]), float(corpus["avgdl"] or 1.0)
        lists = build_posting_lists(
            postings, num_buckets=num_buckets, block_bits=block_bits,
            avgdl=avgdl, doc_lens=doc_lens,
        )
        if path:
            write_table(lists, path, "lists")
            atomic_write_json(
                os.path.join(path, "_meta.json"),
                {"n_docs": n_docs, "avgdl": avgdl,
                 "num_buckets": num_buckets, "block_bits": block_bits},
            )
            lists = postings.sparkSession.read.parquet(path)
        return cls(lists, n_docs, avgdl, num_buckets, block_bits)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "CompressedIndex":
        with open(os.path.join(path, "_meta.json")) as fh:
            meta = json.load(fh)
        return cls(
            spark.read.parquet(path), meta["n_docs"], meta["avgdl"],
            meta.get("num_buckets"), meta.get("block_bits"),
        )


def _prune_terms(index: CompressedIndex, terms: Sequence[str]) -> DataFrame:
    df = index.lists
    if index.num_buckets and "term_bucket" in df.columns:
        from caterpillar_spark.functions.hashing import spark_xxhash64

        # buckets computed driver-side (parity-pinned pure-Python
        # xxhash64) — the r2 shape ran a 1-row-per-term Spark job here
        # before every query.
        buckets = sorted({spark_xxhash64(t) % index.num_buckets for t in terms})
        df = df.where(F.col("term_bucket").isin(buckets))
    return df.where(F.col("term").isin(list(terms)))


def _term_doc_freqs(
    index: CompressedIndex, pruned: DataFrame, terms: Sequence[str]
) -> dict:
    """Per-term document frequency from the block metadata (sum of
    n_docs — no decode), memoized per index handle: df is a static
    property of this handle, so repeated queries over the same terms
    skip the pre-pass job entirely (the r2 shape ran
    posting_list_stats + collect before every query — the driver-bench
    wand regression's main suspect).

    Staleness note: a ``CompressedIndex`` pins its parquet file listing
    at construction (Spark's InMemoryFileIndex snapshot), so the memo
    can never drift from what this handle scores — handle and cache age
    together.  After ``append_batch`` take a fresh handle
    (``InvertedIndex.compressed()`` builds one per call)."""
    from caterpillar_spark.query.engine import _handle_cache

    cache = _handle_cache(index, "_df_cache")
    missing = [t for t in terms if t not in cache]
    if missing:
        rows = (
            pruned.where(F.col("term").isin(missing))
            .groupBy("term")
            .agg(F.sum("n_docs").cast("long").alias("doc_freq"))
            .collect()
        )
        found = {r["term"]: int(r["doc_freq"]) for r in rows}
        for t in missing:
            cache[t] = found.get(t, 0)
    return {t: cache[t] for t in terms if cache[t] > 0}


def wand_topk(
    index: CompressedIndex,
    terms: Sequence[str],
    k: int = 10,
    mode: str = "or",
    must_not: Sequence[str] = (),
    k1: float = BM25_K1,
    b: float = BM25_B,
    num_partitions: Optional[int] = None,
    prune: bool = True,
    metrics: Optional[dict] = None,
) -> DataFrame:
    """Exact BM25 top-k (score desc, doc_id asc) with block-max WAND
    pruning.  ``mode='and'`` additionally requires every term present
    in the document (block-level + doc-level intersection);
    ``must_not`` terms exclude documents (the exclusion lists are
    block-aligned with the scored lists, so masking is block-local —
    no extra shuffle).

    ``prune=False`` disables the block-max skip step (every block group
    is decoded and scored) — the exhaustive baseline the pruning
    measurement compares against (scripts/blockmax_bench.py).
    ``metrics`` (a dict) receives two Spark accumulators,
    ``blocks_skipped`` / ``blocks_scored``, populated when the query's
    action runs — the observable evidence that the skip step fires."""
    terms = sorted(set(terms))
    neg_terms = sorted(set(must_not) - set(terms))
    spark = index.lists.sparkSession
    pruned = _prune_terms(index, [*terms, *neg_terms])

    stats = _term_doc_freqs(index, pruned, terms)
    n = float(index.n_docs)
    idf = {
        t: float(np.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))
        for t, df_t in stats.items()
    }
    if not idf:
        return spark.createDataFrame([], "doc_id long, score double")
    avgdl = index.avgdl
    conjunctive = mode == "and"
    n_terms_required = len(terms) if conjunctive else 0
    if conjunctive and len(idf) < len(terms):
        return spark.createDataFrame([], "doc_id long, score double")

    rows = pruned.select(*_NEEDED)
    # More partitions than distinct blocks is pure overhead (the
    # repartition key is `block`), so cap at the block-space size.
    parts = num_partitions or spark.sparkContext.defaultParallelism
    if index.block_bits:
        parts = min(parts, 2 ** index.block_bits)
    rows = rows.repartition(parts, "block").sortWithinPartitions("block")

    from caterpillar_spark.indexing.codec import decode_doc_gaps, decode_varints

    neg = set(neg_terms)
    acc_skipped = acc_scored = None
    if metrics is not None:
        acc_skipped = spark.sparkContext.accumulator(0)
        acc_scored = spark.sparkContext.accumulator(0)
        metrics["blocks_skipped"] = acc_skipped
        metrics["blocks_scored"] = acc_scored

    def score_partition(it: Iterator) -> Iterator[tuple]:
        groups: dict = {}
        neg_groups: dict = {}
        for r in it:
            if r["term"] in neg:
                neg_groups.setdefault(r["block"], []).append(r)
            else:
                groups.setdefault(r["block"], []).append(r)
        if not groups:
            return
        scored: List[tuple] = []
        for block, rs in groups.items():
            bound = sum(idf[r["term"]] * r["max_score_q"] for r in rs)
            scored.append((bound, block, rs))
        scored.sort(key=lambda x: -x[0])

        heap: List[float] = []  # min-heap of the k best scores seen
        # Bounded emit heap: top-(k+32) of (score, -doc_id) — a broad
        # query scores O(docs-in-partition) candidates, but only this
        # many tuples ever live in Python memory per task.
        emit_cap = k + 32
        emit: List[tuple] = []
        for bound, block, rs in scored:
            if conjunctive and len(rs) < n_terms_required:
                continue  # a required term has no postings in this range
            if prune and len(heap) == k and bound < heap[0]:
                # block-max skip: cannot beat current top-k
                if acc_skipped is not None:
                    acc_skipped.add(1)
                continue
            if acc_scored is not None:
                acc_scored.add(1)
            excluded = None
            if block in neg_groups:
                excl_parts = [
                    decode_doc_gaps(r["first_doc"], r["doc_gaps"], r["n_docs"])
                    for r in neg_groups[block]
                ]
                excluded = np.concatenate(excl_parts)
            doc_parts, score_parts = [], []
            for r in rs:
                nd = r["n_docs"]
                docs = decode_doc_gaps(r["first_doc"], r["doc_gaps"], nd)
                tf = decode_varints(r["freqs"])[:nd].astype(np.float64)
                dl = decode_varints(r["doc_lens"])[:nd].astype(np.float64)
                w = idf[r["term"]]
                # Associate EXACTLY like the block bound (idf * stored
                # max_score_q, i.e. w * (tf*(k1+1)/den)): IEEE rounding
                # is monotone, so per-term contribution <= w*max_score_q
                # holds bit-exactly and a skipped group provably cannot
                # contain a top-k tie.  The former ((w*tf)*(k1+1))/den
                # association could exceed the bound by 1 ulp and flip
                # tie membership at the kth boundary (caught by
                # scripts/blockmax_bench.py's exactness assertion on a
                # tie-heavy corpus).
                s = w * (
                    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                )
                doc_parts.append(docs)
                score_parts.append(s)
            all_docs = np.concatenate(doc_parts)
            all_scores = np.concatenate(score_parts)
            uniq, inv = np.unique(all_docs, return_inverse=True)
            sums = np.bincount(inv, weights=all_scores)
            if conjunctive:
                counts = np.bincount(inv)
                keep = counts == n_terms_required
                uniq, sums = uniq[keep], sums[keep]
            if excluded is not None and uniq.size:
                keep = ~np.isin(uniq, excluded)
                uniq, sums = uniq[keep], sums[keep]
            for d, s in zip(uniq, sums):
                fs, fd = float(s), int(d)
                if len(heap) < k:
                    heapq.heappush(heap, fs)
                elif fs > heap[0]:
                    heapq.heapreplace(heap, fs)
                # (score, -doc_id) min-heap: evicts the lowest score,
                # largest doc_id first — matching the final
                # (score desc, doc_id asc) order.
                if len(emit) < emit_cap:
                    heapq.heappush(emit, (fs, -fd))
                elif (fs, -fd) > emit[0]:
                    heapq.heapreplace(emit, (fs, -fd))
        # per-task top-(k+32), rank order
        for s, nd in sorted(emit, key=lambda x: (-x[0], -x[1])):
            yield (-nd, s)

    out = spark.createDataFrame(
        rows.rdd.mapPartitions(score_partition), "doc_id long, score double"
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wand_topk_many(
    index: CompressedIndex,
    queries: dict,
    k: int = 10,
    mode: str = "or",
    k1: float = BM25_K1,
    b: float = BM25_B,
    num_partitions: Optional[int] = None,
    prune: bool = True,
    metrics: Optional[dict] = None,
) -> DataFrame:
    """BM25 top-k for Q queries in ONE Spark job over the compressed
    index — per-query results identical to :func:`wand_topk`.

    ``queries`` maps query_id -> term list; ``mode`` is shared
    (``must_not`` is single-query-path only).  Result:
    ``(query_id, doc_id, score)``, each query's exact top-k.

    Why: per-query wall clock is dominated by Spark job scheduling
    (~0.5-1 s, BASELINE.md), not scan work.  Here the union of all
    queries' terms is read in one bucket-pruned pass, each block is
    decoded AT MOST ONCE even when many queries share its terms, and
    every task keeps one top-k heap per query — Q queries cost one job
    plus the incremental per-query numpy aggregation.  Block-max
    pruning stays per-query exact: a block group is decoded iff at
    least one query's bound beats that query's running kth score
    (``metrics['blocks_skipped']`` counts groups no query needed).
    """
    qterms = {qid: sorted(set(ts)) for qid, ts in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    spark = index.lists.sparkSession
    if not all_terms or not qterms:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )
    pruned = _prune_terms(index, all_terms)
    stats = _term_doc_freqs(index, pruned, all_terms)
    n = float(index.n_docs)
    idf = {
        t: float(np.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))
        for t, df_t in stats.items()
    }
    conjunctive = mode == "and"
    # per query: (terms present in the index, required presence count)
    qspec = {}
    for qid, ts in qterms.items():
        present = [t for t in ts if t in idf]
        if not present:
            continue
        if conjunctive and len(present) < len(ts):
            continue  # a required term is absent from the corpus
        qspec[qid] = (present, len(ts) if conjunctive else 0)
    if not qspec:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double"
        )
    needed_terms = sorted({t for terms, _ in qspec.values() for t in terms})

    rows = pruned.select(*_NEEDED).where(F.col("term").isin(needed_terms))
    parts = num_partitions or spark.sparkContext.defaultParallelism
    if index.block_bits:
        parts = min(parts, 2 ** index.block_bits)
    rows = rows.repartition(parts, "block").sortWithinPartitions("block")

    from caterpillar_spark.indexing.codec import decode_doc_gaps, decode_varints

    avgdl = index.avgdl
    acc_skipped = acc_scored = None
    if metrics is not None:
        acc_skipped = spark.sparkContext.accumulator(0)
        acc_scored = spark.sparkContext.accumulator(0)
        metrics["blocks_skipped"] = acc_skipped
        metrics["blocks_scored"] = acc_scored
    emit_cap = k + 32

    def score_partition(it: Iterator) -> Iterator[tuple]:
        # by_term holds a LIST of rows per term: an incrementally
        # appended index has one (term, block) row per batch.
        groups: dict = {}
        for r in it:
            groups.setdefault(r["block"], {}).setdefault(r["term"], []).append(r)
        if not groups:
            return
        # best-first by the max over queries of the block's query bound;
        # per-term bound = idf * max over the term's rows (each doc
        # lives in exactly one batch row, so the max bounds every doc)
        scored: List[tuple] = []
        for block, by_term in groups.items():
            tb = {
                t: idf[t] * max(r["max_score_q"] for r in rs)
                for t, rs in by_term.items()
            }
            bounds = {
                qid: sum(tb.get(t, 0.0) for t in terms)
                for qid, (terms, _) in qspec.items()
            }
            scored.append((max(bounds.values()), block, by_term, bounds))
        scored.sort(key=lambda x: -x[0])

        heaps = {qid: [] for qid in qspec}
        emits = {qid: [] for qid in qspec}
        for _, block, by_term, bounds in scored:
            active = []
            for qid, (terms, nreq) in qspec.items():
                if bounds[qid] <= 0.0:
                    continue  # no query term in this doc range
                if conjunctive and any(t not in by_term for t in terms):
                    continue  # block-level intersection miss
                h = heaps[qid]
                if prune and len(h) == k and bounds[qid] < h[0]:
                    continue  # block-max skip for this query
                active.append((qid, terms, nreq))
            if not active:
                if acc_skipped is not None:
                    acc_skipped.add(1)
                continue
            if acc_scored is not None:
                acc_scored.add(1)
            # decode each needed term ONCE per block, share across queries
            decoded: dict = {}
            for t in {t for _, terms, _ in active for t in terms}:
                rs = by_term.get(t)
                if not rs:
                    continue
                d_parts, s_parts = [], []
                w = idf[t]
                for r in rs:
                    nd = r["n_docs"]
                    d_parts.append(
                        decode_doc_gaps(r["first_doc"], r["doc_gaps"], nd)
                    )
                    tf = decode_varints(r["freqs"])[:nd].astype(np.float64)
                    dl = decode_varints(r["doc_lens"])[:nd].astype(np.float64)
                    # same exact association as wand_topk: contribution
                    # is bounded by idf*max_score_q bit-exactly
                    s_parts.append(
                        w * (
                            tf * (k1 + 1.0)
                            / (tf + k1 * (1.0 - b + b * dl / avgdl))
                        )
                    )
                decoded[t] = (
                    np.concatenate(d_parts), np.concatenate(s_parts)
                )
            for qid, terms, nreq in active:
                parts_d = [decoded[t][0] for t in terms if t in decoded]
                parts_s = [decoded[t][1] for t in terms if t in decoded]
                if not parts_d:
                    continue
                all_docs = np.concatenate(parts_d)
                all_scores = np.concatenate(parts_s)
                uniq, inv = np.unique(all_docs, return_inverse=True)
                sums = np.bincount(inv, weights=all_scores)
                if conjunctive:
                    counts = np.bincount(inv)
                    keep = counts == nreq
                    uniq, sums = uniq[keep], sums[keep]
                heap, emit = heaps[qid], emits[qid]
                for d, s in zip(uniq, sums):
                    fs, fd = float(s), int(d)
                    if len(heap) < k:
                        heapq.heappush(heap, fs)
                    elif fs > heap[0]:
                        heapq.heapreplace(heap, fs)
                    if len(emit) < emit_cap:
                        heapq.heappush(emit, (fs, -fd))
                    elif (fs, -fd) > emit[0]:
                        heapq.heapreplace(emit, (fs, -fd))
        for qid, emit in emits.items():
            for s, nd in sorted(emit, key=lambda x: (-x[0], -x[1])):
                yield (qid, -nd, s)

    out = spark.createDataFrame(
        rows.rdd.mapPartitions(score_partition),
        "query_id string, doc_id long, score double",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        out.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
        .select("query_id", "doc_id", "score")
    )
