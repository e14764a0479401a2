"""More-like-this: retrieve documents similar to a seed document.

Beyond-reference serving surface (Lucene's MoreLikeThis): seed a query
from the document's own most characteristic terms — top ``max_terms``
by tf·idf with a deterministic tie-break — then rank the corpus with
the ordinary scorer, excluding the seed.

Scale shape: seed extraction is a bucket-pruned POINT READ of the
doc-major ``forward/`` layout when the index carries one
(``InvertedIndex.doc_forward`` — the reference's frame-clustered
second posting copy, _sqlite_v0_10_0_schema.py:121-142), falling back
to a term-major postings scan only for layouts without it
(MemoryIndex).  The seed's term list is ~dl rows either way; the
retrieval step is the engine's normal broadcast-join search.  Two jobs
total per MLT call, neither corpus-scale.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F

__all__ = ["mlt_seed_terms", "more_like_this"]


def mlt_seed_terms(
    index, doc_id: int, max_terms: int = 5, min_freq: int = 1
) -> List[str]:
    """The seed document's top ``max_terms`` terms by tf·idf
    (idf = 1 + ln(N/(df+1)), the engine's tfidf weight), tie-broken by
    term asc — deterministic."""
    from caterpillar_spark.indexing.build import _handle_cache

    if getattr(index, "has_forward", lambda: False)():
        # doc-major point read: one fwd_bucket partition + doc-sorted
        # row-group pruning — milliseconds at any corpus size
        rows_src = index.doc_forward(doc_id)
    else:
        rows_src = index.postings().where(F.col("doc_id") == doc_id)
    doc_tf = (
        rows_src.groupBy("term")
        .agg(F.sum("freq").alias("tf"))
        .where(F.col("tf") >= min_freq)
    )
    # term_stats carries one row per (term, field[, batch]) — merge to
    # one df per term or a multi-field index double-counts the
    # contribution and emits duplicate seed terms
    stats = (
        index.term_stats()
        .groupBy("term")
        .agg(F.sum("frames_occuring").alias("frames_occuring"))
    )
    # corpus frame count: an index-revision invariant — memoize on the
    # epoch-keyed handle cache so a warm MLT call runs ONE seed job
    # (the join+topk collect below), not two
    cache = _handle_cache(index, "_mlt_cache")
    n = cache.get("n_frames")
    if n is None:
        n = index.field_stats().agg(F.sum("frame_count")).first()[0] or 0
        cache["n_frames"] = n
    rows = (
        doc_tf.join(stats, "term")
        .select(
            "term",
            (
                F.col("tf")
                * (1.0 + F.log(F.lit(float(n)) / (F.col("frames_occuring") + 1.0)))
            ).alias("contrib"),
        )
        .orderBy(F.desc("contrib"), "term")
        .limit(max_terms)
        .collect()
    )
    return [r["term"] for r in rows]


def more_like_this(
    index,
    doc_id: int,
    max_terms: int = 5,
    k: int = 10,
    unit: str = "document",
    scorer: str = "tfidf",
    engine: str = "dataframe",
    **engine_kw,
) -> DataFrame:
    """Ranked top-``k`` documents most similar to ``doc_id``
    (``(doc_id[, field, frame_seq], score)``; the seed document is
    excluded).

    ``engine='wand'`` runs the retrieval step over the block-max WAND
    kernel (compressed lists, BM25 document scoring — the serving-speed
    path; requires a persisted index and implies unit='document'):
    a warm 2M-doc MLT call is then one seed point-read job + one WAND
    job.  ``'dataframe'`` (default) scores through
    :func:`filter_frames` with any scorer."""
    terms = mlt_seed_terms(index, doc_id, max_terms)
    if not terms:
        raise ValueError(f"document {doc_id} has no indexed terms")
    if engine == "wand":
        if unit != "document":
            raise ValueError("engine='wand' scores at unit='document'")
        from caterpillar_spark.query.wand import wand_topk

        res = wand_topk(index.compressed(), terms, k=k + 1, mode="or")
        return (
            res.where(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    from caterpillar_spark.query.engine import filter_frames

    keys = ["doc_id"] if unit == "document" else ["doc_id", "field", "frame_seq"]
    scored = filter_frames(
        index, should=terms, unit=unit, scorer=scorer, **engine_kw
    ).where(F.col("doc_id") != doc_id)
    return scored.orderBy(F.desc("score"), *keys).limit(k)
