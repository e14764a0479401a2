"""Batch multi-query execution (r3 verdict #2): Q queries scored in one
Spark job must return per-query results IDENTICAL to the single-query
paths for both the DataFrame engine (search_many) and the
compressed-index WAND kernel (wand_topk_many).

Each engine has one scoring kernel, and the single-query entry points
(search, wand_topk) are thin wrappers that run it for one query with
their own ``orderBy(...).limit(k)`` top-k, where the batch paths rank
per query in a window.  The parity tests here therefore cover the two
top-k stages and the wrappers (argument checks, must_not, conjunctive
mode on an appended index), not two copies of the scoring.

Tie note: multi-term scores are float SUMS whose addend order differs
between plans (and between runs of the same plan), so docs tied at
rounded precision can swap at a small-k boundary without any semantic
difference.  Multi-term comparisons therefore run at full depth and
compare (doc, rounded score) rank-sorted; exact small-k sequence parity
is asserted on single-term queries, whose scores are arithmetically
deterministic (one addend)."""

import pytest
from pyspark.sql import functions as F

from caterpillar_spark.framing import build_frames
from caterpillar_spark.query import MemoryIndex, search, search_many
from caterpillar_spark.query.wand import (
    CompressedIndex,
    wand_topk,
    wand_topk_many,
)

DEEP_K = 5000  # > any qualifying row count at sf0.001: full-depth

SPECS = {
    "q_should": {"should": ["spark", "table"]},
    "q_must": {"must": ["spark", "join"]},
    "q_not": {"should": ["spark"], "must_not": ["join"]},
    "q_nmin": {"at_least_n": (2, ["spark", "join", "hash"])},
    "q_variant": {"must": [("vector", "stream"), "spark"]},
    "q_missing": {"should": ["spark", "zzznotaterm"]},
}


@pytest.fixture(scope="module")
def index(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames = build_frames(docs, metadata_cols=["lang"]).persist()
    frames.count()
    idx = MemoryIndex(frames)
    yield idx
    frames.unpersist()


def _norm(rows, keys=("doc_id",)):
    """Rank-sorted (rounded score desc, ids asc) — tie-stable."""
    out = [
        tuple([round(r["score"], 9), *(r[c] for c in keys)]) for r in rows
    ]
    return sorted(out, key=lambda t: (-t[0], *t[1:]))


@pytest.mark.parametrize("scorer", ["tfidf", "bm25", "bm25_doc"])
def test_search_many_matches_single_path(index, scorer):
    unit = "document"
    batch = search_many(index, SPECS, k=DEEP_K, unit=unit, scorer=scorer)
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, spec in SPECS.items():
        single = search(
            index, k=DEEP_K, unit=unit, scorer=scorer, **spec
        ).collect()
        assert _norm(by_q.get(qid, [])) == _norm(single), (
            f"{scorer}/{qid} diverged"
        )


def test_search_many_single_term_exact_sequence(index):
    """Single-term scores have one float addend — bitwise deterministic
    — so the small-k boundary sequence must match exactly."""
    spec = {"should": ["spark"]}
    batch = (
        search_many(index, {"a": spec}, k=12, unit="frame")
        .where(F.col("query_id") == "a")
        .collect()
    )
    single = search(index, k=12, unit="frame", **spec).collect()
    key = lambda r: (r["doc_id"], r["field"], r["frame_seq"], round(r["score"], 9))
    assert [key(r) for r in batch] == [key(r) for r in single]


def test_search_many_validates_positive_terms(index):
    with pytest.raises(ValueError):
        search_many(index, {"bad": {"must_not": ["spark"]}}, k=5)


@pytest.fixture(scope="module")
def cindex(index):
    return CompressedIndex.build(
        index.postings(), num_buckets=8, block_bits=3
    )


WAND_QUERIES = {
    "w1": ["spark", "table"],
    "w2": ["join", "hash", "vector"],
    "w3": ["spark"],
    "w4": ["stream", "zzznotaterm"],
    "w5": ["zzznotaterm"],
}


@pytest.mark.parametrize("mode", ["or", "and"])
def test_wand_topk_many_matches_single_path(cindex, mode):
    metrics = {}
    batch = wand_topk_many(
        cindex, WAND_QUERIES, k=DEEP_K, mode=mode, metrics=metrics
    )
    rows = batch.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, terms in WAND_QUERIES.items():
        single = wand_topk(cindex, terms, k=DEEP_K, mode=mode).collect()
        assert _norm(by_q.get(qid, [])) == _norm(single), (
            f"{mode}/{qid} diverged"
        )
    assert metrics["blocks_scored"].value > 0


def test_wand_topk_many_single_term_exact_sequence(cindex):
    """Doc-level tf is pre-aggregated in the compressed layout, so a
    single-term BM25 score is one deterministic expression: small-k
    boundary sequences must match bitwise."""
    batch = (
        wand_topk_many(cindex, {"a": ["spark"]}, k=12)
        .where(F.col("query_id") == "a")
        .collect()
    )
    single = wand_topk(cindex, ["spark"], k=12).collect()
    assert [(r["doc_id"], r["score"]) for r in batch] == [
        (r["doc_id"], r["score"]) for r in single
    ]


def test_wand_topk_many_prune_exact(cindex):
    """Per-query block-max pruning in the batch kernel must stay exact:
    pruned and exhaustive batch runs agree per query at full depth."""
    pruned = wand_topk_many(cindex, WAND_QUERIES, k=DEEP_K, prune=True).collect()
    exhaustive = wand_topk_many(
        cindex, WAND_QUERIES, k=DEEP_K, prune=False
    ).collect()
    norm = lambda rows: sorted(
        (r["query_id"], r["doc_id"], round(r["score"], 9)) for r in rows
    )
    assert norm(pruned) == norm(exhaustive)


@pytest.mark.parametrize("many", [False, True])
def test_wand_metrics_zero_when_nothing_matches(cindex, many):
    """A query none of whose terms is in the index returns no rows and
    still reports its block counters, both 0."""
    metrics = {}
    if many:
        rows = wand_topk_many(
            cindex, {"a": ["zzznotaterm"]}, metrics=metrics
        ).collect()
    else:
        rows = wand_topk(cindex, ["zzznotaterm"], metrics=metrics).collect()
    assert rows == []
    assert metrics["blocks_scored"].value == 0
    assert metrics["blocks_skipped"].value == 0


def test_search_many_checks_field_scope_against_schema(index):
    """Both top-k stages share one plan builder, so the batch path
    rejects a scoped field the schema does not declare, as the
    single-query path does."""
    from caterpillar_spark.schema import TEXT, Schema, UnknownFieldError

    sch = Schema(text=TEXT)
    with pytest.raises(UnknownFieldError):
        search_many(index, SPECS, schema=sch, include_fields=["nope"])
    with pytest.raises(UnknownFieldError):
        search(index, should=["spark"], schema=sch, exclude_fields=["nope"])


def test_wand_and_must_not_exact_over_appended_batches(spark, tmp_path):
    """On an index written by two append_batch calls a (term, block)
    has one row per batch, so the kernel's block bound takes the max
    over a term's rows and its conjunctive skip checks each term.
    Pruned conjunctive top-k with exclusions equals the exhaustive
    run at every depth."""
    from caterpillar_spark.sources import ingest_webtext, synthetic_webtext
    from caterpillar_spark.streaming.incremental import append_batch

    # hashed doc_ids spread over every doc-range block
    docs = ingest_webtext(synthetic_webtext(spark, 300, seed=11))
    frames = build_frames(docs, metadata_cols=["lang"]).persist()
    path = str(tmp_path / "two_batches")
    for parity in (0, 1):
        idx = append_batch(
            frames.where(F.abs(F.col("doc_id")) % 2 == parity), path,
            num_buckets=8, block_bits=3,
        )
    ci = idx.compressed()
    multi = (
        ci.lists.groupBy("term", "block").count().where(F.col("count") > 1)
    )
    assert multi.count() > 0

    q = dict(terms=["the", "spark"], mode="and", must_not=["data"])
    rows = lambda df: [(r["doc_id"], r["score"]) for r in df.collect()]
    exhaustive = rows(wand_topk(ci, k=DEEP_K, prune=False, **q))
    excluded = {
        r["doc_id"] for r in MemoryIndex(frames).postings()
        .where(F.col("term") == "data").select("doc_id").collect()
    }
    unfiltered = rows(wand_topk(ci, ["the", "spark"], k=DEEP_K, mode="and"))
    assert exhaustive and len(unfiltered) > len(exhaustive)
    assert not excluded & {d for d, _ in exhaustive}
    for k in (1, 3, DEEP_K):
        metrics = {}
        assert rows(wand_topk(ci, k=k, metrics=metrics, **q)) == exhaustive[:k]
        if k == 1:  # the max-per-term bound lets blocks be skipped
            assert metrics["blocks_skipped"].value > 0
    frames.unpersist()
