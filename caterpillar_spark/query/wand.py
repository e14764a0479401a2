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
4. inside ``mapPartitions`` each task groups its rows by block,
   decodes each term at most once per block, and keeps a running top-k
   per query.  A query's bound for a block sums, over its terms,
   idf * the max ``max_score_q`` of the term's rows (an appended index
   has one row per batch); groups run best-first by that bound, and a
   group whose bound is strictly below the query's current kth score
   is skipped for it without decoding — the block-max WAND pruning
   step.  For conjunctive mode a group missing any required term is
   skipped outright (block-level intersection).  Skips are *exact*: a
   skipped group provably cannot alter that task's top-k.

One kernel, :func:`_candidates`, does steps 1-4 for one query or many;
two top-k stages merge its per-task top-ks: :func:`wand_topk` with
``orderBy(score desc, doc_id asc).limit(k)`` (TakeOrderedAndProject,
k*P rows), :func:`wand_topk_many` with a per-query window.

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

from caterpillar_spark.indexing.build import (
    _handle_cache,
    _local_frame,
    atomic_write_json,
    write_table,
)
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
    (``InvertedIndex.compressed()`` builds one per call).

    The block rows (one per term, block and appended batch) are summed
    on the driver: a groupBy would add a shuffle job for a few rows."""
    cache = _handle_cache(index, "_df_cache")
    missing = [t for t in terms if t not in cache]
    if missing:
        rows = (
            pruned.where(F.col("term").isin(missing))
            .select("term", "n_docs")
            .collect()
        )
        for t in missing:
            cache[t] = 0
        for r in rows:
            cache[r["term"]] += int(r["n_docs"])
    return {t: cache[t] for t in terms if cache[t] > 0}


def _candidates(
    index: CompressedIndex,
    queries: dict,
    k: int,
    mode: str,
    k1: float,
    b: float,
    num_partitions: Optional[int],
    prune: bool,
    metrics: Optional[dict],
) -> Optional[DataFrame]:
    """The block-max WAND kernel both top-k paths run.

    ``queries`` maps query_id -> (terms, must_not terms).  Returns each
    task's top-(k+32) per query as ``(query_id, doc_id, score)`` rows,
    or None — without a Spark job — when no query can match."""
    qterms = {
        qid: (sorted(set(ts)), set(neg) - set(ts))
        for qid, (ts, neg) in queries.items()
    }
    pos_terms = sorted({t for ts, _ in qterms.values() for t in ts})
    neg_terms = sorted({t for _, neg in qterms.values() for t in neg})
    sc = index.lists.sparkSession.sparkContext
    pruned = _prune_terms(index, [*pos_terms, *neg_terms])
    n = float(index.n_docs)
    idf = {
        t: float(np.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))
        for t, df_t in _term_doc_freqs(index, pruned, pos_terms).items()
    }
    conjunctive = mode == "and"
    # per query: (terms present in the index, excluded terms, required
    # presence count)
    qspec = {}
    for qid, (ts, neg) in qterms.items():
        present = [t for t in ts if t in idf]
        if not present or (conjunctive and len(present) < len(ts)):
            continue  # no term to score, or a required term is absent
        qspec[qid] = (present, sorted(neg), len(ts) if conjunctive else 0)
    # created before the early return, so a query that matches nothing
    # still reports 0 blocks scored and skipped
    acc_skipped = acc_scored = None
    if metrics is not None:
        acc_skipped = metrics["blocks_skipped"] = sc.accumulator(0)
        acc_scored = metrics["blocks_scored"] = sc.accumulator(0)
    if not qspec:
        return None
    needed = sorted({t for ts, neg, _ in qspec.values() for t in (*ts, *neg)})

    rows = pruned.select(*_NEEDED).where(F.col("term").isin(needed))
    # More partitions than distinct blocks is pure overhead (the
    # repartition key is `block`), so cap at the block-space size.
    parts = num_partitions or sc.defaultParallelism
    if index.block_bits:
        parts = min(parts, 2 ** index.block_bits)
    rows = rows.repartition(parts, "block").sortWithinPartitions("block")

    from caterpillar_spark.indexing.codec import decode_doc_gaps, decode_varints

    avgdl = index.avgdl
    emit_cap = k + 32

    def docs_of(r):
        return decode_doc_gaps(r["first_doc"], r["doc_gaps"], r["n_docs"])

    def scores_of(r, w):
        nd = r["n_docs"]
        tf = decode_varints(r["freqs"])[:nd].astype(np.float64)
        dl = decode_varints(r["doc_lens"])[:nd].astype(np.float64)
        # Associate EXACTLY like the block bound (idf * stored
        # max_score_q, i.e. w * (tf*(k1+1)/den)): IEEE rounding is
        # monotone, so per-term contribution <= w*max_score_q holds
        # bit-exactly and a skipped group provably cannot contain a
        # top-k tie.  The former ((w*tf)*(k1+1))/den association could
        # exceed the bound by 1 ulp and flip tie membership at the kth
        # boundary (caught by scripts/blockmax_bench.py's exactness
        # assertion on a tie-heavy corpus).
        return w * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))

    def score_partition(it: Iterator) -> Iterator[tuple]:
        # by_term holds a LIST of rows per term: an incrementally
        # appended index has one (term, block) row per batch.
        groups: dict = {}
        for r in it:
            groups.setdefault(r["block"], {}).setdefault(r["term"], []).append(r)
        # A query's block bound sums, over its terms, idf * the max
        # max_score_q of the term's rows (each doc lives in exactly one
        # batch row, so the max bounds every doc).  Groups go
        # best-first by the max over queries of their bound.
        scored: List[tuple] = []
        for by_term in groups.values():
            tb = {
                t: idf[t] * max(r["max_score_q"] for r in rs)
                for t, rs in by_term.items() if t in idf
            }
            bounds = {}
            for qid, (terms, _, _) in qspec.items():
                if conjunctive and any(t not in by_term for t in terms):
                    continue  # block-level intersection miss
                bound = sum(tb.get(t, 0.0) for t in terms)
                if bound > 0.0:
                    bounds[qid] = bound
            if bounds:
                scored.append((max(bounds.values()), by_term, bounds))
        scored.sort(key=lambda x: -x[0])

        heaps = {qid: [] for qid in qspec}  # min-heaps of the k best scores
        # Bounded emit heaps: top-(k+32) of (score, -doc_id) — a broad
        # query scores O(docs-in-partition) candidates, but only this
        # many tuples ever live in Python memory per task and query.
        emits = {qid: [] for qid in qspec}
        for _, by_term, bounds in scored:
            active = [
                qid for qid, bound in bounds.items()
                if not (prune and len(heaps[qid]) == k and bound < heaps[qid][0])
            ]
            if not active:
                # block-max skip: no query can beat its current top-k
                if acc_skipped is not None:
                    acc_skipped.add(1)
                continue
            if acc_scored is not None:
                acc_scored.add(1)
            # decode each needed term ONCE per block, share across queries
            decoded = {
                t: (
                    np.concatenate([docs_of(r) for r in by_term[t]]),
                    np.concatenate([scores_of(r, idf[t]) for r in by_term[t]]),
                )
                for t in {t for q in active for t in qspec[q][0]}
                if t in by_term
            }
            excluded = {
                t: np.concatenate([docs_of(r) for r in by_term[t]])
                for t in {t for q in active for t in qspec[q][1]}
                if t in by_term
            }
            for qid in active:
                terms, neg, nreq = qspec[qid]
                present = [t for t in terms if t in decoded]
                uniq, inv = np.unique(
                    np.concatenate([decoded[t][0] for t in present]),
                    return_inverse=True,
                )
                sums = np.bincount(
                    inv, weights=np.concatenate([decoded[t][1] for t in present])
                )
                if conjunctive:
                    keep = np.bincount(inv) == nreq
                    uniq, sums = uniq[keep], sums[keep]
                drop = [excluded[t] for t in neg if t in excluded]
                if drop and uniq.size:
                    keep = ~np.isin(uniq, np.concatenate(drop))
                    uniq, sums = uniq[keep], sums[keep]
                heap, emit = heaps[qid], emits[qid]
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
        for qid, emit in emits.items():
            for s, nd in sorted(emit, key=lambda x: (-x[0], -x[1])):
                yield (qid, -nd, s)

    return index.lists.sparkSession.createDataFrame(
        rows.rdd.mapPartitions(score_partition),
        "query_id string, doc_id long, score double",
    )


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
    action runs — the observable evidence that the skip step fires.
    A group that cannot hold a match (no query term, or in ``and``
    mode a term missing from its doc range) counts as neither."""
    out = _candidates(
        index, {"q": (terms, must_not)}, k, mode, k1, b,
        num_partitions, prune, metrics,
    )
    if out is None:
        return _local_frame(
            index.lists.sparkSession, [], "doc_id long, score double"
        )
    # global top-k = the merge of the per-task top-ks
    # (TakeOrderedAndProject over k*P rows)
    return (
        out.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


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
    index — per-query results identical to :func:`wand_topk`, which
    runs the same kernel for one query.

    ``queries`` maps query_id -> term list; ``mode`` is shared.
    Result: ``(query_id, doc_id, score)``, each query's exact top-k.

    Why: at small scale a warm query's wall clock is a fixed cost per
    Spark job it launches (two here: the block-partitioned scoring
    stage and the top-k merge), not scan work (BASELINE.md, "Where a
    warm DataFrame-engine query's time went").  Here the union of all
    queries' terms is read in one bucket-pruned pass, each block is
    decoded AT MOST ONCE even when many queries share its terms, and
    every task keeps one top-k heap per query — Q queries cost one job
    plus the incremental per-query numpy aggregation.  Block-max
    pruning stays per-query exact: a block group is decoded iff at
    least one query's bound beats that query's running kth score
    (``metrics['blocks_skipped']`` counts the groups some query could
    match in but none needed).
    """
    out = _candidates(
        index, {qid: (ts, ()) for qid, ts in queries.items()}, k, mode,
        k1, b, num_partitions, prune, metrics,
    )
    if out is None:
        return _local_frame(
            index.lists.sparkSession, [], "query_id string, doc_id long, score double"
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
