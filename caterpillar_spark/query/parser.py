"""Lucene-style query-string parser over the engine's boolean surface.

Beyond-reference serving surface: the reference's query API is purely
programmatic (dicts of term specs); this parser gives the standard
search-box syntax and compiles it onto the existing operators — no new
scoring or retrieval path.

Syntax (whitespace-separated clauses):

* ``term``            — optional (should) scoring term
* ``+term``           — required (must)
* ``-term``           — excluded (must_not)
* ``term~`` / ``term~1`` / ``term~2`` — fuzzy clause: the edit-distance
  ball (default 2, Lucene's default) expanded against the index
  vocabulary into ONE variant group
* ``pre*``            — prefix clause, expanded the same way
* ``"a b c"``         — exact phrase (consecutive positions); phrases
  act as match constraints (``-"a b"`` excludes). A phrase-only query
  scores by phrase match count.
* ``"a b"~k``         — sloppy phrase / proximity: all words inside a
  span of ``k`` token positions, ANY order (SPAN semantics — max
  minus min position ≤ k — not Lucene's move-count slop; ``k`` must
  be ≥ words-1).  Same constraint/exclude/only-query roles as exact
  phrases; a near-only query scores by qualifying-window count.
* ``field:value`` / ``field:>=10`` etc. — metadata predicate
  (``=, <, <=, >, >=``); multiple predicates on one field conjoin.

Everything is lowercased, matching the default analyser chain.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield
from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame, functions as F

from caterpillar_spark.indexing.build import _local_frame

__all__ = [
    "Fuzzy",
    "Prefix",
    "QuerySpec",
    "parse_query",
    "execute_query",
    "execute_many",
]


@dataclass(frozen=True)
class Fuzzy:
    term: str
    max_edits: int = 2


@dataclass(frozen=True)
class Prefix:
    prefix: str


Clause = Union[str, Fuzzy, Prefix]


@dataclass
class QuerySpec:
    must: List[Clause] = dfield(default_factory=list)
    should: List[Clause] = dfield(default_factory=list)
    must_not: List[Clause] = dfield(default_factory=list)
    phrases: List[List[str]] = dfield(default_factory=list)
    not_phrases: List[List[str]] = dfield(default_factory=list)
    near: List[Tuple[List[str], int]] = dfield(default_factory=list)
    not_near: List[Tuple[List[str], int]] = dfield(default_factory=list)
    metadata: Dict[str, Dict[str, object]] = dfield(default_factory=dict)


_CLAUSE = re.compile(r'([+-]?)("([^"]*)"(~[0-9]+)?|\S+)')
_FIELDED = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(>=|<=|>|<|=)?(.+)$")
_FUZZY = re.compile(r"^(.+?)~([0-9])?$")


def parse_query(q: str) -> QuerySpec:
    """Parse a query string into a :class:`QuerySpec` (pure — index
    resolution of fuzzy/prefix clauses happens in
    :func:`execute_query`)."""
    spec = QuerySpec()
    matched_any = False
    for mod, raw, quoted, slop in _CLAUSE.findall(q):
        matched_any = True
        if raw.startswith('"') and (raw.endswith('"') or slop):
            words = quoted.lower().split()
            if not words:
                continue
            if slop:
                k = int(slop[1:])
                if len(words) < 2:
                    raise ValueError(
                        f"proximity clause {raw!r} needs at least 2 words"
                    )
                if k < len(words) - 1:
                    raise ValueError(
                        f"proximity window {k} in {raw!r} cannot fit "
                        f"{len(words)} distinct positions (need >= "
                        f"{len(words) - 1})"
                    )
                if len(set(words)) != len(words):
                    raise ValueError(
                        f"proximity clause {raw!r} repeats a word "
                        "(a repeated word could satisfy the span with "
                        "one position)"
                    )
                target = spec.not_near if mod == "-" else spec.near
                target.append((words, k))
            elif len(words) == 1:  # quoted single word = plain term
                _add_term(spec, mod, words[0])
            elif mod == "-":
                spec.not_phrases.append(words)
            else:
                spec.phrases.append(words)
            continue
        tok = raw
        fm = _FIELDED.match(tok)
        if fm and (re.search(r"~[0-9]?$", tok) or tok.endswith("*")):
            # 'title:foo~1' / 'title:foo*' — fielded fuzzy/prefix is not
            # supported; erroring beats the silent misparses (metadata
            # predicate title='foo~1' vs fuzzy term 'title:foo')
            raise ValueError(
                f"fielded fuzzy/prefix clause {tok!r} is not supported; "
                "scope with include_fields= instead"
            )
        if fm and "*" not in tok:
            name, op, value = fm.group(1), fm.group(2) or "=", fm.group(3)
            if mod == "-":
                raise ValueError(
                    f"negated metadata clause {tok!r} is not supported"
                )
            val: object = value.lower()
            if re.fullmatch(r"-?\d+", value):
                val = int(value)
            elif re.fullmatch(r"-?\d*\.\d+", value):
                val = float(value)
            spec.metadata.setdefault(name, {})[op] = val
            continue
        _add_term(spec, mod, tok.lower())
    if not matched_any and q.strip():
        raise ValueError(f"unparseable query {q!r}")
    if not (
        spec.must or spec.should or spec.phrases or spec.near
        or spec.metadata
    ):
        raise ValueError("query has no positive clause")
    return spec


def _add_term(spec: QuerySpec, mod: str, tok: str) -> None:
    clause: Clause
    fz = _FUZZY.match(tok)
    if fz:
        d = int(fz.group(2)) if fz.group(2) else 2
        if not 1 <= d <= 2:
            raise ValueError(f"fuzzy distance must be 1 or 2 in {tok!r}")
        clause = Fuzzy(fz.group(1), d)
    elif tok.endswith("*") and len(tok) > 1:
        clause = Prefix(tok[:-1])
    else:
        clause = tok
    target = {"": spec.should, "+": spec.must, "-": spec.must_not}[mod]
    target.append(clause)


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _resolve_all(
    index, clauses: Sequence[Clause], max_expansions: int
) -> Dict[Clause, Optional[Tuple[str, ...]]]:
    """Resolve every Fuzzy/Prefix clause in ONE vocabulary-scan job
    (per-clause jobs would pay Spark's job-launch latency E times; the
    combined pass emits (clause_id, term) pairs in a single scan).

    The per-clause ``max_expansions`` cap is applied INSIDE the scan —
    a row_number window partitioned by clause id, ordered by the same
    tie-break the driver-side sort uses (edit distance then term for
    fuzzy, term for prefix) — so the collect is bounded by
    E·max_expansions rows even when a broad clause ('s*') matches
    millions of a web-scale vocabulary (the r4 advisory: the uncapped
    collect was unbounded).  Final ordering of the capped sets is then
    applied driver-side — identical results to
    :func:`caterpillar_spark.query.expand.fuzzy_terms` /
    ``prefix_terms`` with the same ``max_expansions``."""
    from caterpillar_spark.query.expand import (
        _deletion_set_col,
        _query_deletions,
        _vocab,
    )

    out: Dict[Clause, Optional[Tuple[str, ...]]] = {}
    expansions = []
    for c in clauses:
        if isinstance(c, str):
            out[c] = (c,)
        elif c not in out and c not in (e for _, e in expansions):
            expansions.append((len(expansions), c))
    if not expansions:
        return out

    branches = []
    for cid, c in expansions:
        if isinstance(c, Fuzzy):
            qvars = _query_deletions(c.term, c.max_edits)
            cond = F.arrays_overlap(
                _deletion_set_col("term", c.max_edits),
                F.array(*[F.lit(v) for v in qvars]),
            ) & (F.levenshtein(F.col("term"), F.lit(c.term)) <= c.max_edits)
        else:
            cond = F.col("term").startswith(c.prefix)
        branches.append(F.when(cond, F.lit(cid)))
    from pyspark.sql.window import Window

    # per-clause order key matching the driver tie-break: edit distance
    # for fuzzy clauses (term asc breaks ties via the window order),
    # constant for prefix clauses
    order_key = F.lit(0)
    for cid, c in expansions:
        if isinstance(c, Fuzzy):
            order_key = F.when(
                F.col("_cid") == cid,
                F.levenshtein(F.col("term"), F.lit(c.term)),
            ).otherwise(order_key)
    w = Window.partitionBy("_cid").orderBy(F.asc("_order"), F.asc("term"))
    matched = (
        _vocab(index)
        .select(
            "term",
            F.array_compact(F.array(*branches)).alias("_cids"),
        )
        .where(F.size("_cids") > 0)
        .select(F.explode("_cids").alias("_cid"), "term")
        .withColumn("_order", order_key)
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= max_expansions)
        .select("_cid", "term")
        .collect()
    )
    by_cid: Dict[int, List[str]] = {}
    for r in matched:
        by_cid.setdefault(r["_cid"], []).append(r["term"])
    for cid, c in expansions:
        terms = by_cid.get(cid, [])
        if isinstance(c, Fuzzy):
            terms.sort(key=lambda t: (_lev(t, c.term), t))
        else:
            terms.sort()
        out[c] = tuple(terms[:max_expansions]) or None
    return out


def execute_query(
    index,
    q: str,
    k: int = 10,
    unit: str = "document",
    scorer: str = "tfidf",
    max_expansions: int = 64,
    schema=None,
    phrase_engine: str = "auto",
    **engine_kw,
) -> DataFrame:
    """Parse ``q`` and run it: ranked top-``k`` ``(doc_id[, field,
    frame_seq], score)``.

    Semantics: term clauses score through :func:`filter_frames`
    (fuzzy/prefix expansions as variant groups); phrase clauses
    constrain the match set via positional n-gram semi/anti-joins; a
    phrase-only query scores by phrase match count.  An unsatisfiable
    ``+`` expansion (nothing in the vocabulary) returns an empty
    result; unsatisfiable optional/negative expansions are dropped.
    """
    from caterpillar_spark.query.engine import filter_frames

    spec = parse_query(q)
    empty_schema = (
        "doc_id long, field string, frame_seq int, score double"
        if unit == "frame"
        else "doc_id long, score double"
    )

    resolved = _resolve_all(
        index,
        [*spec.must, *spec.should, *spec.must_not],
        max_expansions,
    )
    must: List[Tuple[str, ...]] = []
    should: List[Tuple[str, ...]] = []
    must_not: List[str] = []
    for clause in spec.must:
        grp = resolved[clause]
        if grp is None:
            return _local_frame(index.spark, [], empty_schema)
        must.append(grp)
    for clause in spec.should:
        grp = resolved[clause]
        if grp is not None:
            should.append(grp)
    for clause in spec.must_not:
        grp = resolved[clause]
        if grp is not None:
            must_not.extend(grp)

    keys = ["doc_id"] if unit == "document" else ["doc_id", "field", "frame_seq"]
    metadata = spec.metadata or None
    phrase_constraints = list(spec.phrases)
    near_constraints = list(spec.near)

    if must or should:
        scored = filter_frames(
            index,
            must=must,
            should=should,
            must_not=must_not,
            metadata=metadata,
            unit=unit,
            scorer=scorer,
            schema=schema,
            **engine_kw,
        )
    elif spec.phrases:
        if unit != "document":
            raise ValueError(
                "phrase-only queries score at unit='document' "
                "(search_ngram has no field identity)"
            )
        scored = _phrase_scores(
            index, spec, unit, metadata, schema, phrase_engine
        )
        phrase_constraints = phrase_constraints[1:]  # first phrase scored
        if must_not:
            excluded = filter_frames(
                index, should=must_not, unit=unit, metadata=None
            ).select(*keys)
            scored = scored.join(excluded, keys, "left_anti")
    elif spec.near:
        # near-only query: score = qualifying-window count of the
        # FIRST proximity clause (the phrase-only contract, same
        # unit='document' restriction — proximity runs on the raw
        # postings layout, which carries no field identity)
        if unit != "document":
            raise ValueError(
                "proximity-only queries score at unit='document' "
                "(proximity_search has no field identity)"
            )
        from caterpillar_spark.query.analytics import proximity_search_index
        from caterpillar_spark.query.engine import metadata_predicate

        words, kw = spec.near[0]
        if metadata:
            from caterpillar_spark.query.analytics import proximity_search

            posts = index.postings().where(
                metadata_predicate(metadata, schema=schema)
            )
            pm = proximity_search(posts, list(words), kw)
        else:
            pm = proximity_search_index(index, list(words), kw)
        scored = pm.groupBy("doc_id").agg(
            F.sum("n_windows").cast("double").alias("score")
        )
        near_constraints = near_constraints[1:]
        if must_not:
            excluded = filter_frames(
                index, should=must_not, unit=unit, metadata=None
            ).select(*keys)
            scored = scored.join(excluded, keys, "left_anti")
    else:
        # metadata-only query: the no-posting-join fast path over frames
        from caterpillar_spark.query.engine import filter_metadata

        if not hasattr(index, "frames"):
            raise ValueError(
                "metadata-only queries need a frames-backed index"
            )
        rows = filter_metadata(index.frames, metadata, schema=schema)
        scored = (
            rows.select(*keys).distinct().withColumn("score", F.lit(0.0))
        )

    for ph in phrase_constraints:
        pm, pkeys = _phrase_units(index, ph, unit, phrase_engine)
        scored = scored.join(pm, pkeys, "left_semi")
    for ph in spec.not_phrases:
        pm, pkeys = _phrase_units(index, ph, unit, phrase_engine)
        scored = scored.join(pm, pkeys, "left_anti")
    for words, kw in near_constraints:
        pm, pkeys = _near_units(index, words, kw, unit)
        scored = scored.join(pm, pkeys, "left_semi")
    for words, kw in spec.not_near:
        pm, pkeys = _near_units(index, words, kw, unit)
        scored = scored.join(pm, pkeys, "left_anti")

    return scored.orderBy(F.desc("score"), *keys).limit(k)


def execute_query_wand(
    index,
    compressed,
    q: str,
    k: int = 10,
    max_expansions: int = 64,
    **wand_kw,
) -> DataFrame:
    """Parsed query over the block-max WAND engine — the serving-speed
    path (compressed lists instead of a postings scan; BM25 document
    scoring, the wand formula).

    ``compressed`` is the :class:`CompressedIndex`
    (``InvertedIndex.compressed()``); ``index`` resolves expansions.
    Expressibility: WAND evaluates pure-OR or pure-AND term sets, so
    the query must be either all-optional (``should`` clauses only →
    ``mode='or'``) or all-required single-term clauses
    (``mode='and'``); ``-term`` exclusions map to WAND's
    block-aligned ``must_not``.  Metadata clauses (not in the
    compressed lists), phrase clauses (filtering after a top-k cut
    would make the result approximate), and mixed must+should raise
    ``ValueError`` — use :func:`execute_query` for those.
    """
    from caterpillar_spark.query.wand import wand_topk

    spec = parse_query(q)
    if spec.metadata:
        raise ValueError(
            "metadata clauses are not in the compressed lists — use "
            "execute_query"
        )
    if spec.phrases or spec.not_phrases or spec.near or spec.not_near:
        raise ValueError(
            "phrase/proximity clauses would be approximate after a "
            "WAND top-k cut — use execute_query"
        )
    resolved = _resolve_all(
        index, [*spec.must, *spec.should, *spec.must_not], max_expansions
    )
    must_not = [
        t for c in spec.must_not if resolved[c] for t in resolved[c]
    ]
    if spec.must and spec.should:
        raise ValueError(
            "WAND evaluates pure-OR or pure-AND term sets; mixed "
            "must+should needs execute_query"
        )
    if spec.must:
        groups = [resolved[c] for c in spec.must]
        if any(g is None for g in groups):
            spark = compressed.lists.sparkSession
            return _local_frame(spark, [], "doc_id long, score double")
        if any(len(g) > 1 for g in groups):
            raise ValueError(
                "a required variant group (fuzzy/prefix under '+') is "
                "any-of — not expressible in WAND's AND mode; use "
                "execute_query"
            )
        terms, mode = [g[0] for g in groups], "and"
    else:
        terms = [
            t for c in spec.should if resolved[c] for t in resolved[c]
        ]
        mode = "or"
        if not terms:
            spark = compressed.lists.sparkSession
            return _local_frame(spark, [], "doc_id long, score double")
    return wand_topk(
        compressed, terms, k=k, mode=mode, must_not=must_not, **wand_kw
    )


def execute_many_wand(
    index,
    compressed,
    queries: Dict[str, str],
    k: int = 10,
    max_expansions: int = 64,
    **wand_kw,
) -> DataFrame:
    """Q parsed query strings over block-max WAND in ONE job:
    ``(query_id, doc_id, score)``, per-query rows identical to
    :func:`execute_query_wand`.  The batch kernel evaluates shared-mode
    pure-OR term sets, so every query must be all-optional ``should``
    clauses (fuzzy/prefix fine — expansions flatten into the OR set and
    ALL queries' expansions resolve in one shared vocabulary scan);
    ``+``/``-``/phrase/metadata clauses raise ``ValueError``."""
    from caterpillar_spark.query.wand import wand_topk_many

    specs = {qid: parse_query(s) for qid, s in queries.items()}
    for qid, spec in specs.items():
        if spec.must or spec.must_not:
            raise ValueError(
                f"query {qid!r}: the WAND batch kernel is shared-mode "
                "pure-OR; +/- clauses need execute_query_wand"
            )
        if spec.phrases or spec.not_phrases or spec.metadata:
            raise ValueError(
                f"query {qid!r}: phrase/metadata clauses are not "
                "supported on the WAND path — use execute_query"
            )
        if not spec.should:
            raise ValueError(f"query {qid!r} has no term clause")
    resolved = _resolve_all(
        index,
        [c for spec in specs.values() for c in spec.should],
        max_expansions,
    )
    qterms = {}
    for qid, spec in specs.items():
        terms = [
            t for c in spec.should if resolved[c] for t in resolved[c]
        ]
        if terms:
            qterms[qid] = terms
    return wand_topk_many(compressed, qterms, k=k, **wand_kw)


def execute_many(
    index,
    queries: Dict[str, str],
    k: int = 10,
    unit: str = "document",
    scorer: str = "tfidf",
    max_expansions: int = 64,
    schema=None,
    **engine_kw,
) -> DataFrame:
    """Q parsed query strings in ONE Spark job: ``query_id -> string``
    in, ``(query_id, <unit keys>, score)`` out, per-query rows
    identical to :func:`execute_query`.

    ALL queries' fuzzy/prefix clauses resolve in one shared
    vocabulary scan, then the compiled specs run through
    :func:`caterpillar_spark.query.engine.search_many` (union term
    broadcast, one aggregation, per-query top-k) — two jobs total for
    any Q.  Batch-mode limits (raise ``ValueError``): phrase clauses
    are per-query joins and metadata predicates are shared across a
    ``search_many`` batch, so queries using either must run through
    :func:`execute_query`; a query whose required expansion is
    unsatisfiable simply contributes no rows.
    """
    from caterpillar_spark.query.engine import search_many

    specs = {qid: parse_query(s) for qid, s in queries.items()}
    for qid, spec in specs.items():
        if spec.phrases or spec.not_phrases:
            raise ValueError(
                f"query {qid!r}: phrase clauses are not supported in "
                "execute_many — use execute_query"
            )
        if not (spec.must or spec.should):
            raise ValueError(f"query {qid!r} has no term clause")
        if spec.metadata:
            raise ValueError(
                f"query {qid!r}: metadata clauses are not supported in "
                "execute_many — use execute_query"
            )
    all_clauses = [
        c
        for spec in specs.values()
        for c in (*spec.must, *spec.should, *spec.must_not)
    ]
    resolved = _resolve_all(index, all_clauses, max_expansions)

    compiled: Dict[str, dict] = {}
    for qid, spec in specs.items():
        must = [resolved[c] for c in spec.must]
        if any(g is None for g in must):
            continue  # unsatisfiable required expansion: no rows
        should = [g for c in spec.should if (g := resolved[c]) is not None]
        must_not = [
            t for c in spec.must_not if resolved[c] for t in resolved[c]
        ]
        if must or should:
            compiled[qid] = {
                "must": must, "should": should, "must_not": must_not
            }
    if not compiled:
        keys = (
            "doc_id long, score double"
            if unit == "document"
            else "doc_id long, field string, frame_seq int, score double"
        )
        return _local_frame(index.spark, [], f"query_id string, {keys}")
    return search_many(
        index, compiled, k=k, unit=unit, scorer=scorer, schema=schema,
        **engine_kw,
    )


def _phrase_keys(unit: str, pm: Optional[DataFrame] = None) -> List[str]:
    """Join keys for a phrase match relation.  The raw search_ngram
    relation has no field column (its own single-TEXT-field contract,
    query/analytics.py), so frame identity there is (doc_id,
    frame_seq); the compressed kernel DOES carry field, and at
    unit='frame' the join must use it — otherwise on a multi-field
    index a frame in field A would be retained because the phrase
    matched the same-numbered frame of field B (the r4 advisory)."""
    if unit == "document":
        return ["doc_id"]
    if pm is not None and "field" in pm.columns:
        return ["doc_id", "field", "frame_seq"]
    return ["doc_id", "frame_seq"]


def _phrase_matches(
    index, phrase: Sequence[str], engine: str = "auto"
) -> DataFrame:
    """(doc_id, frame_seq, matches) for an exact phrase.

    ``engine='postings'`` runs the JVM positional self-join over the
    raw postings layout; ``'compressed'`` runs the varint
    positions-stream kernel (requires ``with_positions``).  ``'auto'``
    prefers raw postings when that layout exists — measured at 2M
    docs, the JVM join beats the Python decode kernel on hot-term
    phrases ("the index": 5.7 s vs 8.9 s) — and falls back to the
    compressed layout for deployments that drop the raw postings
    table (its storage reason for existing)."""
    import os

    manifest = getattr(index, "manifest", None)
    has_compressed = bool(manifest and manifest.get("with_positions"))
    has_raw = (
        os.path.isdir(os.path.join(index.path, "postings"))
        if hasattr(index, "path")
        else hasattr(index, "postings")
    )
    if engine == "auto":
        engine = "postings" if has_raw else "compressed"
    if engine == "compressed":
        if not has_compressed:
            raise ValueError(
                "phrase_engine='compressed' needs a with_positions index"
            )
        from caterpillar_spark.query.phrase import search_ngram_index

        return search_ngram_index(index, list(phrase))
    from caterpillar_spark.query.analytics import search_ngram

    return search_ngram(index.postings(), list(phrase))


def _phrase_units(
    index, phrase: Sequence[str], unit: str, engine: str = "auto"
) -> Tuple[DataFrame, List[str]]:
    pm = _phrase_matches(index, phrase, engine)
    keys = _phrase_keys(unit, pm)
    return pm.select(*keys).distinct(), keys


def _near_units(
    index, words: Sequence[str], window: int, unit: str
) -> Tuple[DataFrame, List[str]]:
    """Distinct match units of one proximity clause.  Raw-postings
    layout only (no field identity), so frame-unit keys are
    (doc_id, frame_seq) — the same single-field contract as the raw
    phrase path (:func:`_phrase_keys`)."""
    from caterpillar_spark.query.analytics import proximity_search_index

    pm = proximity_search_index(index, list(words), window)
    keys = ["doc_id"] if unit == "document" else ["doc_id", "frame_seq"]
    return pm.select(*keys).distinct(), keys


def _phrase_scores(
    index, spec: QuerySpec, unit: str, metadata, schema, engine: str = "auto"
) -> DataFrame:
    """Phrase-only query: score = match count of the FIRST phrase
    (additional phrases keep constraining via the semi-joins in
    :func:`execute_query`).  Scoring is unit='document' only, and the
    per-doc sum deliberately folds matches across ALL fields carrying
    the phrase (documented contract: a title and a body occurrence
    both count toward the document's phrase score)."""
    from caterpillar_spark.query.analytics import search_ngram
    from caterpillar_spark.query.engine import metadata_predicate

    first = spec.phrases[0]
    if metadata:
        # metadata predicates live on the raw postings columns, so the
        # metadata-constrained phrase path stays on that layout
        posts = index.postings().where(
            metadata_predicate(metadata, schema=schema)
        )
        pm = search_ngram(posts, list(first))
    else:
        pm = _phrase_matches(index, first, engine)
    return pm.groupBy("doc_id").agg(
        F.sum("matches").cast("double").alias("score")
    )
