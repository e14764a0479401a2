"""Boolean retrieval + scoring over the inverted index.

Semantics spec: reference ``IndexReader.filter`` / ``filter_and_rank``
(processing/index.py:1157-1328) and the generated SQL in
``rank_or_filter_unstructured`` (storage/sqlite.py:1201-1474):

* ``must``      — every term group present (count of distinct matched
                  must-groups == number of must groups);
* ``should``    — contributes matches/score; a frame qualifies by
                  containing any positive query term;
* ``at_least_n``— ``(n, [terms])``: at least n distinct terms of the
                  list present;
* ``must_not``  — frames containing the term are excluded; requires at
                  least one positive term (like the reference,
                  sqlite.py:1279-1284);
* term variants — a tuple of terms acts as one logical term (same
                  group id), reference index.py:1211-1217.

Scoring:

* ``tfidf`` — the reference formula (sqlite.py:1321-1348):
  ``idf = 1 + ln(n_frames / (frame_freq + 1))``, frame score =
  ``sum(freq_in_frame * idf)`` over matched, non-excluded query terms.
  DEVIATION (documented): the reference runs on Python 2 where the
  division is *integer* division; we use true division.  Ranking order
  is unaffected for single-term queries and differs only in rare
  near-tie multi-term cases.
* ``bm25`` — Okapi BM25 (k1=1.2, b=0.75 defaults):
  ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
  ``score = sum(idf * f*(k1+1) / (f + k1*(1 - b + b*dl/avgdl)))`` with
  dl = frame token count, avgdl from field statistics.  This is the
  engine's headline scorer per the build target.
* ``bm25_doc`` — document-granularity BM25: tf summed over the doc's
  frames before saturation, dl = doc token count, idf over document
  frequencies — numerically identical to the WAND engine
  (query/wand.py) until the first ``append_batch``: from then on WAND
  keeps the frozen manifest avgdl its block bounds were built with,
  while ``bm25_doc`` takes the docs ledger's current mean
  (streaming/incremental.py).  NOTE the semantics fork at unit='document':
  ``scorer='bm25'`` sums *frame-level* BM25 scores per document (the
  reference's frame-rollup), ``scorer='bm25_doc'`` is true doc-level
  BM25; they coincide exactly on single-frame documents
  (tests/test_index_query.py pins both relations on a multi-frame
  corpus).

Execution shape (Spark-first): one scoring plan, :func:`_qualifying`,
serves one query or a batch of them.

1. the queries' term list is resolved against ``term_stats`` — a
   partition-pruned parquet read of only the buckets the query terms
   hash into — and weights are computed driver-side (the analog of the
   reference's precomputed ``term_search_driver`` temp table);
2. the tiny weighted-terms relation is **broadcast-joined** into the
   postings scan, itself pruned to the same term buckets and filtered
   by field scoping / metadata predicates on denormalized columns;
3. one partial-aggregated ``groupBy`` per retrieval unit (frame or
   document, plus ``query_id`` for a batch) computes score and the
   boolean HAVING counters;
4. two top-k stages sit on that plan: :func:`search` runs
   ``orderBy(...).limit(k)``, which Catalyst executes as per-partition
   top-k + single merge (TakeOrderedAndProject) — no full sort at
   scale; :func:`search_many` ranks each query in a window.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, functions as F

from caterpillar_spark.framing import frames_to_postings
from caterpillar_spark.indexing.build import (
    _handle_cache,
    _local_frame,
    field_statistics,
    term_statistics,
)

TermSpec = Union[str, Tuple[str, ...]]

BM25_K1 = 1.2
BM25_B = 0.75


@dataclass
class MemoryIndex:
    """Index views computed on the fly from a frames DataFrame (no
    persisted layout; used by tests and small interactive jobs)."""

    frames: DataFrame

    @property
    def spark(self):
        return self.frames.sparkSession

    def postings(self) -> DataFrame:
        return frames_to_postings(self.frames)

    def term_stats(self) -> DataFrame:
        return term_statistics(self.postings())

    def field_stats(self) -> DataFrame:
        return field_statistics(self.frames)

    def doc_lens(self) -> DataFrame:
        """(doc_id, dl): document length = sum of its frames' token
        counts (stop-advanced positions included — the dl the persisted
        docs ledger and WAND block bounds use)."""
        return self.frames.groupBy("doc_id").agg(
            F.sum("frame_tokens").cast("long").alias("dl")
        )

    def num_buckets(self) -> Optional[int]:
        return None


def _groups(
    must: Sequence[TermSpec],
    should: Sequence[TermSpec],
    at_least_n: Optional[Tuple[int, Sequence[TermSpec]]],
    must_not: Sequence[TermSpec],
):
    """Flatten term specs to (term, group_id, kind) rows; variants in a
    tuple share a group id."""
    rows: List[Tuple[str, int, str]] = []
    gid = 0
    for kind, specs in (("must", must), ("should", should)):
        for spec in specs:
            variants = (spec,) if isinstance(spec, str) else tuple(spec)
            rows.extend((v, gid, kind) for v in variants)
            gid += 1
    if at_least_n:
        for spec in at_least_n[1]:
            variants = (spec,) if isinstance(spec, str) else tuple(spec)
            rows.extend((v, gid, "nmin") for v in variants)
            gid += 1
    for spec in must_not:
        variants = (spec,) if isinstance(spec, str) else tuple(spec)
        rows.extend((v, gid, "exclude") for v in variants)
        gid += 1
    return rows


def _field_scope(df: DataFrame, include_fields, exclude_fields) -> DataFrame:
    if include_fields:
        return df.where(F.col("field").isin(list(include_fields)))
    if exclude_fields:
        return df.where(~F.col("field").isin(list(exclude_fields)))
    return df


_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "in": lambda c, v: c.isin(list(v)),
    # reference wildcard equality is re.match — anchored at the start
    # of the value (schema.py:200-201); compiled to an anchored RLIKE.
    "*=": lambda c, v: c.rlike(f"^(?:{v})"),
}


def metadata_predicate(
    metadata: Dict[str, Dict[str, object]], schema=None
) -> Column:
    """Conjunctive document-metadata predicate over denormalized columns
    (reference _validate_analyse_metadata op set, index.py:1382-1428).

    With a declared :class:`caterpillar_spark.schema.Schema`, the spec
    is validated against it first — unknown fields, non-indexed fields
    and type-unsupported operators raise typed errors, and query values
    are analysed (stripped / coerced / DATETIME-normalized) exactly
    like ingest values before comparison."""
    if schema is not None:
        from caterpillar_spark.schema import validate_metadata

        metadata = validate_metadata(schema, metadata)
    pred = F.lit(True)
    for field, conds in metadata.items():
        for op, value in conds.items():
            if op not in _OPS:
                raise ValueError(f"Unsupported metadata operator {op!r}")
            pred = pred & _OPS[op](F.col(field), value)
    return pred


def filter_metadata(frames: DataFrame, metadata, schema=None) -> DataFrame:
    """Metadata-only fast path (reference sqlite.py:1103-1198): no
    posting join at all, just a pruned frame scan."""
    return frames.where(metadata_predicate(metadata, schema=schema))


def _fields_in_scope(index, include_fields, exclude_fields) -> List[str]:
    """Distinct indexed fields after scoping (one tiny collect, memoized
    per (index handle, manifest revision) — field_stats has one row per
    field, or per (field, batch) on an incrementally-appended index)."""
    cache = _handle_cache(index, "_fields_cache")
    fields = cache.get("fields")
    if fields is None:
        fields = sorted(
            r["field"]
            for r in index.field_stats().select("field").distinct().collect()
        )
        cache["fields"] = fields
    if include_fields:
        return [f for f in fields if f in set(include_fields)]
    if exclude_fields:
        return [f for f in fields if f not in set(exclude_fields)]
    return list(fields)


def _scoped_doc_lens(index, include_fields, exclude_fields) -> DataFrame:
    """(doc_id, dl) with dl restricted to the scoped fields.  Unscoped:
    the index's own doc-lens relation (docs ledger / frames rollup).
    Scoped: recomputed from the frames relation when the handle exposes
    one, else from distinct posting frames (misses frames whose tokens
    were all stop-marked — same documented deviation as
    delete_documents' pseudo-frames)."""
    if not include_fields and not exclude_fields:
        return index.doc_lens()
    frames = getattr(index, "frames", None)
    if isinstance(frames, DataFrame):
        src = _field_scope(frames, include_fields, exclude_fields)
        return src.groupBy("doc_id").agg(
            F.sum("frame_tokens").cast("long").alias("dl")
        )
    src = _field_scope(index.postings(), include_fields, exclude_fields)
    return (
        src.select("doc_id", "field", "frame_seq", "frame_tokens")
        .dropDuplicates(["doc_id", "field", "frame_seq"])
        .groupBy("doc_id")
        .agg(F.sum("frame_tokens").cast("long").alias("dl"))
    )


def _pruned(index, table: DataFrame, terms: Sequence[str]) -> DataFrame:
    """A term-major table's scan pruned to ``terms``: term-bucket
    partition pruning (buckets computed driver-side, no Spark job) + a
    literal ``isin`` predicate that parquet row-group min/max stats use
    because files are term-sorted."""
    nb = index.num_buckets()
    if nb:
        from caterpillar_spark.functions.hashing import spark_xxhash64

        buckets = sorted({spark_xxhash64(t) % nb for t in terms})
        table = table.where(F.col("term_bucket").isin(buckets))
    return table.where(F.col("term").isin(list(terms)))


def _pruned_postings(index, terms: Sequence[str]) -> DataFrame:
    return _pruned(index, index.postings(), terms)


def _resolve_weights(
    index,
    terms: List[Tuple[str, int, str]],
    include_fields,
    exclude_fields,
    scorer: str,
) -> Tuple[Dict[str, float], float, float]:
    """Driver-side weight resolution from pruned statistics reads.

    Returns ({term: weight}, N, avgdl) — N and the document frequency
    are *frame*-granular for the frame scorers (tfidf/bm25) and
    *document*-granular for ``bm25_doc`` (distinct-document df + the
    field-scoped doc-lens relation, exactly the statistics WAND scores
    with).  Missing terms get weight 0 (reference sqlite.py:1340-1348).

    Document-granularity df note: ``term_stats.docs_occuring`` is per
    (term, field), so summing it over a multi-field index counts a
    document once per field containing the term — df could exceed N.
    On a single-field scope the sum is exact and the pruned stats read
    stays the fast path; with >1 field in scope the df comes from a
    distinct-doc count over the bucket-pruned postings instead.
    """
    doc_mode = scorer == "bm25_doc"
    term_values = sorted({t for t, _, _ in terms})

    # Per-term frequency statistics are static index properties (the
    # reference loads term statistics into memory the same way — the
    # vocabulary-scan anecdote, index.py:1016-1018), so they memoize on
    # the index handle exactly like the corpus constants below: a warm
    # repeat query runs ZERO statistics jobs, only the retrieval job.
    # Missing terms cache as None so absent vocabulary is not re-probed.
    scope = (
        tuple(include_fields) if include_fields else None,
        tuple(exclude_fields) if exclude_fields else None,
        doc_mode,
    )
    ff_cache = _handle_cache(index, "_term_ff_cache")
    lookup = [t for t in term_values if (scope, t) not in ff_cache]
    if lookup:
        if doc_mode and len(
            _fields_in_scope(index, include_fields, exclude_fields)
        ) > 1:
            posts = _field_scope(
                _pruned_postings(index, lookup),
                include_fields, exclude_fields,
            )
            rows = (
                posts.groupBy("term")
                .agg(F.countDistinct("doc_id").alias("ff"))
                .collect()
            )
        else:
            # One row per (term, field) and per appended batch: few
            # enough to sum on the driver, which saves the shuffle job
            # a groupBy would add.
            stats = _field_scope(
                _pruned(index, index.term_stats(), lookup),
                include_fields, exclude_fields,
            )
            stat_col = "docs_occuring" if doc_mode else "frames_occuring"
            rows = stats.select("term", F.col(stat_col).alias("ff")).collect()
        found: Dict[str, int] = {}
        for r in rows:
            found[r["term"]] = found.get(r["term"], 0) + r["ff"]
        for t in lookup:
            ff_cache[(scope, t)] = found.get(t)
    ff = {
        t: ff_cache[(scope, t)]
        for t in term_values
        if ff_cache[(scope, t)] is not None
    }

    # Corpus constants are per-(index revision, field-scope) invariants
    # — memoize on the epoch-keyed handle cache so repeated queries run
    # one collect, not two, and appends to the same path invalidate.
    cache = _handle_cache(index, "_consts_cache")
    if scope not in cache:
        if doc_mode:
            agg = _scoped_doc_lens(index, include_fields, exclude_fields).agg(
                F.count("*").alias("n"), F.sum("dl").alias("tok")
            )
        else:
            agg = _field_scope(
                index.field_stats(), include_fields, exclude_fields
            ).agg(F.sum("frame_count").alias("n"), F.sum("token_count").alias("tok"))
        row = agg.collect()[0]
        cache[scope] = (
            float(row["n"] or 0), (row["tok"] / row["n"]) if row["n"] else 1.0
        )
    n_units, avgdl = cache[scope]

    weights: Dict[str, float] = {}
    for t in term_values:
        df_t = ff.get(t)
        if df_t is None or n_units == 0:
            weights[t] = 0.0
        elif scorer in ("bm25", "bm25_doc"):
            weights[t] = math.log(1.0 + (n_units - df_t + 0.5) / (df_t + 0.5))
        else:
            weights[t] = 1.0 + math.log(n_units / (df_t + 1.0))
    return weights, n_units, avgdl


def _bm25(tf: str, dl: str, k1: float, b: float, avgdl: float) -> Column:
    return F.col("weight") * (F.col(tf) * (k1 + 1.0)) / (
        F.col(tf) + k1 * (1.0 - b + b * F.col(dl) / F.lit(avgdl))
    )


def _field_boost(field_boosts: dict) -> Column:
    """Row-local ``{field: weight}`` lookup, 1.0 for unlisted fields."""
    kv = []
    for fname, boost in sorted(field_boosts.items()):
        kv.extend([F.lit(fname), F.lit(float(boost))])
    return F.coalesce(
        F.element_at(F.create_map(*kv), F.col("field")), F.lit(1.0)
    )


def _unit_keys(unit: str) -> List[str]:
    # Frame identity is (doc_id, field, frame_seq): frame ordinals are
    # per-(doc, field), so a multi-field index must not conflate the
    # same-numbered frames of different fields (reference frame ids are
    # globally unique; tests/test_index_query.py multi-field invariants).
    return ["doc_id"] if unit == "document" else ["doc_id", "field", "frame_seq"]


def _qualifying(
    index,
    queries: Dict[str, dict],
    batch: bool,
    unit: str,
    scorer: str,
    k1: float,
    b: float,
    metadata: Optional[dict],
    include_fields: Optional[Sequence[str]],
    exclude_fields: Optional[Sequence[str]],
    schema,
    field_boosts: Optional[dict],
) -> DataFrame:
    """The scoring plan both :func:`filter_frames` and
    :func:`search_many` run: every qualifying unit of every query with
    its score, as ``(query_id, <unit keys>, score)`` when ``batch`` and
    ``(<unit keys>, score)`` otherwise.

    ``queries`` maps query_id -> a boolean spec dict (``must`` /
    ``should`` / ``at_least_n`` / ``must_not``).  The union of all
    queries' terms drives ONE broadcast join into the bucket-pruned
    postings scan and one partial-aggregated ``groupBy`` keyed by the
    unit (plus ``query_id`` on the batch path); each query's HAVING
    constants ride in the broadcast relation, so a term shared by
    several queries is scanned once."""
    if schema is not None:
        from caterpillar_spark.schema import UnknownFieldError

        for fname in [*(include_fields or ()), *(exclude_fields or ())]:
            if fname not in schema:
                raise UnknownFieldError(
                    f"{fname!r} is not defined on this index"
                )
    if scorer == "bm25_doc" and unit != "document":
        raise ValueError("scorer='bm25_doc' requires unit='document'")

    per_query: Dict[str, List[Tuple[str, int, str]]] = {}
    for qid, spec in queries.items():
        rows = _groups(
            spec.get("must", ()),
            spec.get("should", ()),
            spec.get("at_least_n") or None,
            spec.get("must_not", ()),
        )
        if not any(kind != "exclude" for _, _, kind in rows):
            who = f"query {qid!r} needs" if batch else "need"
            raise ValueError(
                f"{who} at least one positive term (must/should/at_least_n)"
            )
        per_query[qid] = rows

    weights, n_units, avgdl = _resolve_weights(
        index, [r for rows in per_query.values() for r in rows],
        include_fields, exclude_fields, scorer,
    )
    keys = _unit_keys(unit)
    qcols = ["query_id"] if batch else []

    # A query none of whose positive terms exists in the index matches
    # nothing (reference sqlite.py:1340-1345); with no live query at all
    # no Spark job runs.
    qrows = []
    for qid, rows in per_query.items():
        if all(weights[t] == 0.0 for t, _, kind in rows if kind != "exclude"):
            continue
        n_must = len({g for _, g, kind in rows if kind == "must"})
        nmin = (queries[qid].get("at_least_n") or (0, ()))[0]
        qrows.extend(
            (qid, t, g, kind, float(weights[t]), n_must, nmin)
            for t, g, kind in rows
        )
    if not qrows:
        empty = ("query_id string, " if batch else "") + "doc_id long" + (
            "" if unit == "document" else ", field string, frame_seq int")
        return _local_frame(index.spark, [], empty + ", score double")
    qdf = _local_frame(
        index.spark,
        qrows,
        "query_id string, term string, group_id int, kind string, "
        "weight double, n_must int, nmin int",
    )

    # Bucket pruning + a literal term predicate (redundant with the join
    # semantically, but as a literal it pushes into the parquet scan
    # where the term-sorted file layout turns it into row-group min/max
    # pruning); buckets are computed driver-side — no pre-job.
    posts = _pruned_postings(index, sorted({r[1] for r in qrows}))
    posts = _field_scope(posts, include_fields, exclude_fields)
    if metadata:
        posts = posts.where(metadata_predicate(metadata, schema=schema))
    joined = posts.join(F.broadcast(qdf), "term")

    boost = _field_boost(field_boosts) if field_boosts else None
    if scorer == "bm25_doc":
        # Document-granularity BM25, the WAND formula (query/wand.py):
        # tf summed over the doc's frames BEFORE saturation, dl = doc
        # token count, idf over document frequencies; one extra
        # partial-agg shuffle.  ``field_boosts`` make it BM25F proper:
        # the weighted tf sum Σ_field w_f·tf_f feeds the saturation.
        tf = F.col("freq").cast("double")
        if boost is not None:
            tf = tf * boost
        per_term = joined.groupBy(
            *qcols, "doc_id", "term", "group_id", "kind", "weight",
            "n_must", "nmin",
        ).agg(F.sum(tf).alias("tf"))
        joined = per_term.join(
            _scoped_doc_lens(index, include_fields, exclude_fields), "doc_id"
        )
        contrib = _bm25("tf", "dl", k1, b, avgdl)
    else:
        if scorer == "bm25":
            contrib = _bm25("freq", "frame_tokens", k1, b, avgdl)
        else:
            contrib = F.col("freq") * F.col("weight")
        if boost is not None:
            contrib = contrib * boost  # frame scorers: per posting

    positive = F.col("kind") != "exclude"
    agg = joined.groupBy(*qcols, *keys).agg(
        F.sum(F.when(positive, contrib).otherwise(0.0)).alias("score"),
        F.countDistinct(
            F.when(F.col("kind") == "must", F.col("group_id"))
        ).alias("_must_hits"),
        F.countDistinct(
            F.when(F.col("kind") == "nmin", F.col("group_id"))
        ).alias("_nmin_hits"),
        F.max(F.when(~positive, 1).otherwise(0)).alias("_excluded"),
        F.max(F.when(positive, 1).otherwise(0)).alias("_positive"),
        F.max("n_must").alias("_n_must"),  # per-query constants
        F.max("nmin").alias("_nmin"),
    )
    # A counter no query constrains is left out of the HAVING clause, so
    # Catalyst prunes its distinct aggregate (and the Expand it needs).
    cond = (F.col("_excluded") == 0) & (F.col("_positive") == 1)
    if any(r[5] for r in qrows):
        cond = cond & (F.col("_must_hits") == F.col("_n_must"))
    if any(r[6] for r in qrows):
        cond = cond & (F.col("_nmin_hits") >= F.col("_nmin"))
    return agg.where(cond).select(*qcols, *keys, "score")


def filter_frames(
    index,
    must: Sequence[TermSpec] = (),
    should: Sequence[TermSpec] = (),
    at_least_n: Optional[Tuple[int, Sequence[TermSpec]]] = None,
    must_not: Sequence[TermSpec] = (),
    metadata: Optional[dict] = None,
    include_fields: Optional[Sequence[str]] = None,
    exclude_fields: Optional[Sequence[str]] = None,
    scorer: str = "tfidf",
    k1: float = BM25_K1,
    b: float = BM25_B,
    unit: str = "frame",
    schema=None,
    field_boosts: Optional[dict] = None,
) -> DataFrame:
    """Boolean retrieval returning all qualifying units with scores.

    Result columns: ``doc_id`` (+ ``field``, ``frame_seq`` when
    unit='frame'), ``score``.  Use :func:`search` for ranked top-k.

    ``field_boosts`` (``{field: weight}``, missing fields weight 1.0)
    weights fields against each other (title > body); a row-local map
    lookup, no plan change.  Boolean gating (must/should counts) is
    unaffected: a boost of 0.0 silences a field's score without
    un-matching it (use ``exclude_fields`` to remove it entirely).
    Frame scorers (tfidf/bm25) multiply each posting's contribution;
    ``bm25_doc`` applies BM25F proper (Robertson/Zaragoza) — the
    weighted tf sum Σ_field w_f·tf_f feeds the saturation, so boosting
    a field raises saturated relevance rather than scaling a
    saturated score.
    """
    spec = {"must": must, "should": should, "at_least_n": at_least_n,
            "must_not": must_not}
    return _qualifying(
        index, {"q": spec}, False, unit, scorer, k1, b, metadata,
        include_fields, exclude_fields, schema, field_boosts,
    )


def search_many(
    index,
    queries: Dict[str, dict],
    k: int = 10,
    unit: str = "frame",
    scorer: str = "tfidf",
    k1: float = BM25_K1,
    b: float = BM25_B,
    metadata: Optional[dict] = None,
    include_fields: Optional[Sequence[str]] = None,
    exclude_fields: Optional[Sequence[str]] = None,
    schema=None,
) -> DataFrame:
    """Ranked top-k for Q queries in ONE Spark job.

    ``queries`` maps query_id -> a boolean spec dict with any of
    ``must`` / ``should`` / ``at_least_n`` / ``must_not`` (the
    :func:`filter_frames` arguments); scorer/unit/field-scope/metadata
    are shared across the batch.  Result: one relation
    ``(query_id, <unit keys>, score)`` holding each query's top-k in
    rank order — per-query rows identical to :func:`search`, which
    runs the same scoring plan for one query.

    Why: at small scale a warm query's wall clock is a fixed cost per
    Spark job it launches, not scan work (BASELINE.md, "Where a warm
    DataFrame-engine query's time went").  Batching pays that cost once
    for Q queries: the union of all queries' terms drives one scan and
    one aggregation, then a per-query window top-k.  Statistics resolve
    driver-side from the same epoch-keyed cache the single-query path
    uses.
    """
    if not queries:
        raise ValueError("queries must be a non-empty {query_id: spec} dict")
    qualified = _qualifying(
        index, queries, True, unit, scorer, k1, b, metadata,
        include_fields, exclude_fields, schema, None,
    )
    from pyspark.sql.window import Window

    keys = _unit_keys(unit)
    order = [F.desc("score")] + [F.asc(c) for c in keys]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        qualified.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= k)
        .select("query_id", *keys, "score")
    )


def search(
    index,
    k: int = 10,
    unit: str = "frame",
    pagination: Optional[Tuple[float, Tuple[int, ...]]] = None,
    **kwargs,
) -> DataFrame:
    """Ranked top-k retrieval: score desc, (doc_id, frame_seq) asc
    deterministic tie-break (reference sqlite.py:1452-1460 orders by
    score desc, id asc).

    ``pagination`` is a keyset resume point ``(score, ids)``: results
    strictly after it in rank order (reference sqlite.py:1446-1453).
    """
    res = filter_frames(index, unit=unit, **kwargs)
    keys = _unit_keys(unit)
    if pagination:
        last_score, last_ids = pagination
        tail = F.lit(False)
        for i in range(len(keys)):
            step = F.col("score") == F.lit(last_score)
            for j in range(i):
                step = step & (F.col(keys[j]) == F.lit(last_ids[j]))
            step = step & (F.col(keys[i]) > F.lit(last_ids[i]))
            tail = tail | step
        res = res.where((F.col("score") < F.lit(last_score)) | tail)
    order = [F.desc("score")] + [F.asc(c) for c in keys]
    return res.orderBy(*order).limit(k)
