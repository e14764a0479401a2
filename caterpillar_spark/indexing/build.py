"""Inverted-index build job.

Layout (all parquet, under one index root):

  postings/term_bucket=B/   one row per (term, frame); sorted within
                            files by (term, doc_id, frame_seq) so a
                            term's posting rows are contiguous and
                            parquet min/max row-group stats prune scans.
  term_stats/term_bucket=B/ per (term, field): total occurrences,
                            frames_occuring (frame df), docs_occuring
                            (document df) — the statistics the
                            reference maintains incrementally in
                            term_statistics (_sqlite_scripts.py:105-119,
                            305-341), here one shuffle aggregation.
  forward/fwd_bucket=B/     doc-major (forward) posting copy: one row
                            per (doc_id, field, frame_seq, term) with
                            freq, partitioned by pmod(doc_id, buckets)
                            and doc_id-sorted within files.  The Spark
                            analog of the reference's second, frame-id-
                            clustered posting table
                            (_sqlite_v0_10_0_schema.py:121-142) kept
                            precisely so per-document reads (term
                            vectors, MoreLikeThis seeds) never scan the
                            term-major index: a doc lookup prunes to one
                            partition + one row group.
  field_stats/              per field: frame count (the "N" of idf,
                            _sqlite_scripts.py:354-357), token count
                            and avg frame length (BM25 avgdl).
  manifest.json             revision metadata + per-checkpoint-group
                            lineage and build metrics (the analog of the
                            reference's index_revision tuple,
                            _sqlite_v0_10_0_schema.py:223-251).

Scale design:

* ``term_bucket = pmod(xxhash64(term), num_buckets)`` is the partition
  key.  Query-time the driver computes the buckets of its query terms
  and reads only those directories (partition pruning) — the Spark
  analog of the reference's clustered (term_id, frame_id) primary key.
* Each table's partition column and in-file sort keys are declared
  once, in :data:`LAYOUTS`, and every writer goes through
  :func:`write_table`.  The statistics aggregations are partial-agg
  (map-side combined) so hot terms don't skew the exchange.
* Resumability: buckets are written in ``checkpoint_groups`` slices;
  each completed slice appends a manifest entry with metrics.  A
  restarted build skips completed slices (kill/restart test in
  tests/test_index_build.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from caterpillar_spark.framing import frames_to_postings

DEFAULT_BUCKETS = 64


@dataclass(frozen=True)
class Layout:
    """A persisted table's physical layout: the column its directories
    partition on, the keys rows are sorted by inside each file, and the
    column a write with a fixed task count hash-spreads rows on."""

    partition: Optional[str]
    keys: tuple
    spread: Optional[str] = None


# Term-major tables keep a term's rows contiguous and doc-major ones a
# document's, so parquet min/max row-group stats prune point reads.
LAYOUTS = {
    "postings": Layout("term_bucket", ("term", "doc_id", "frame_seq"), "term"),
    "lists": Layout("term_bucket", ("term", "block"), "term"),
    "positions": Layout("term_bucket", ("term", "block"), "term"),
    "term_stats": Layout("term_bucket", ("term",), "term"),
    "forward": Layout(
        "fwd_bucket", ("doc_id", "field", "frame_seq", "term"), "doc_id"
    ),
    "attributes": Layout("type", ("value", "doc_id", "frame_seq")),
    "docs": Layout(None, ("doc_id",)),
    "doc_fields": Layout(None, ("doc_id", "field")),
    "field_stats": Layout(None, ()),
}


def write_table(
    df: DataFrame,
    dest: str,
    table: str,
    mode: str = "overwrite",
    parts: Optional[int] = None,
    dynamic: bool = False,
) -> None:
    """Write ``df`` to ``dest`` in ``table``'s declared layout.

    A partitioned table is spread over ``parts`` tasks by its spread
    column when given (the build's write parallelism), else one task
    per partition value.  Its sort is led by the partition column: the
    file writer needs rows grouped by that column, and when the sort
    does not already provide it the writer replaces the sort with its
    own, leaving the files unsorted.  Unpartitioned sorted tables are
    range-partitioned on their first key; field statistics go to one
    file.  ``dynamic`` overwrites only the partitions written."""
    lay = LAYOUTS[table]
    if lay.partition:
        df = (
            df.repartition(parts, lay.spread)
            if parts
            else df.repartition(lay.partition)
        )
        w = df.sortWithinPartitions(lay.partition, *lay.keys).write
        w = w.partitionBy(lay.partition)
    elif lay.keys:
        n = max(df.sparkSession.sparkContext.defaultParallelism // 4, 1)
        w = df.repartitionByRange(n, lay.keys[0]).sortWithinPartitions(*lay.keys).write
    else:
        w = df.coalesce(1).write
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.mode(mode).parquet(dest)


def atomic_write_json(path: str, obj, **dump_kw) -> None:
    """Replace ``path`` with ``obj`` as JSON so that a crash or power
    loss leaves either the whole old file or the whole new one: write a
    sibling temp file, fsync it, rename it over ``path``, then fsync
    the directory so the rename itself is durable."""
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh, **dump_kw)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    fd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _handle_cache(index, attr: str) -> dict:
    """Memoization store scoped to (index handle, cache epoch).

    ``cache_epoch()`` (InvertedIndex: the manifest revision, one cheap
    local JSON read per query) moves when the on-disk index changes —
    ``append_batch`` / ``delete_documents`` bump the revision — so a
    handle retained across an append drops its stale table schemas,
    term statistics and corpus constants instead of scoring new
    postings with old df/N (the r3 advisory: missing terms were cached
    as None forever).  Handles without an epoch (MemoryIndex,
    CompressedIndex over a pinned file listing) get a constant ``None``
    epoch — the immutable-by-convention behavior, unchanged."""
    epoch = getattr(index, "cache_epoch", lambda: None)()
    store = getattr(index, attr, None)
    if store is None or store[0] != epoch:
        store = (epoch, {})
        try:
            object.__setattr__(index, attr, store)
        except (AttributeError, TypeError):
            pass
    return store[1]


def _local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-side relation (``rows`` of tuples in ``ddl``
    column order) built from an Arrow table, so it plans as a JVM
    ``LocalTableScan``.  ``spark.createDataFrame(list)`` plans as an
    RDD scan instead, and every query that reads it pays a round trip
    through a Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def postings_with_bucket(postings: DataFrame, num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return postings.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(num_buckets)).cast("int")
    )


def forward_rows(postings: DataFrame, fwd_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Doc-major projection of the postings relation: the ``forward/``
    layout's rows.  ``fwd_bucket = pmod(doc_id, fwd_buckets)`` is
    driver-computable for point reads (Python's ``%`` matches Spark's
    ``pmod`` for positive moduli), and doc ids are xxhash64-uniform so
    buckets balance."""
    return postings.select(
        F.pmod(F.col("doc_id"), F.lit(fwd_buckets)).cast("int").alias("fwd_bucket"),
        "doc_id",
        "field",
        "frame_seq",
        "term",
        F.col("freq").cast("int").alias("freq"),
    )


def term_statistics(postings: DataFrame) -> DataFrame:
    """Per (term, field) statistics.

    ``frames_occuring`` counts posting rows (one per frame containing the
    term — the reference's frame-frequency semantics, index.py:9-14);
    ``docs_occuring`` is a distinct count, which Spark executes as a
    two-stage partial aggregation, so Zipfian hot terms do not
    concentrate raw rows on one reducer.
    """
    return postings.groupBy("term", "field").agg(
        F.sum("freq").alias("total_occurrences"),
        F.count(F.lit(1)).alias("frames_occuring"),
        F.countDistinct("doc_id").alias("docs_occuring"),
    )


def field_statistics(frames: DataFrame) -> DataFrame:
    return frames.groupBy("field").agg(
        F.count(F.lit(1)).alias("frame_count"),
        F.countDistinct("doc_id").alias("doc_count"),
        F.sum("frame_tokens").alias("token_count"),
        F.avg("frame_tokens").alias("avg_frame_tokens"),
    )


def doc_field_stats(frames: DataFrame) -> DataFrame:
    """Per-(doc_id, field) frame/token counts — the ``doc_fields``
    ledger rows.  Derived from frames (not postings), so frames whose
    tokens were all stop-marked are counted."""
    return frames.groupBy("doc_id", "field").agg(
        F.count(F.lit(1)).cast("long").alias("frame_count"),
        F.sum("frame_tokens").cast("long").alias("token_count"),
    )


def field_statistics_from_ledger(doc_fields: DataFrame) -> DataFrame:
    """Exact field statistics from the doc_fields ledger (one row per
    (doc, field)) — the delete-path rebuild that preserves all-stopped
    frames."""
    return doc_fields.groupBy("field").agg(
        F.sum("frame_count").alias("frame_count"),
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("token_count").alias("token_count"),
        (F.sum("token_count") / F.sum("frame_count")).alias(
            "avg_frame_tokens"
        ),
    )


@dataclass
class InvertedIndex:
    """Handle over a written index root; lazily loads its tables."""

    spark: SparkSession
    path: str

    @property
    def manifest(self) -> dict:
        with open(os.path.join(self.path, "manifest.json")) as f:
            return json.load(f)

    def cache_epoch(self):
        """Epoch key for query-engine memoization (term statistics,
        corpus constants, field lists): the manifest revision, re-read
        per query (one local JSON read — cheap).  Appends/deletes bump
        the revision, so a handle retained across an ``append_batch``
        to the same path re-resolves its statistics instead of scoring
        new postings with stale df/N (the r3 advisory)."""
        try:
            return self.manifest.get("revision")
        except FileNotFoundError:
            return None

    def _table(self, name: str) -> str:
        """Resolve a table directory, recovering from a crash inside
        :func:`_swap_dir`'s brief absence window: if the live dir is
        missing but its ``.old`` sibling survives, rename it back
        before reading.

        Two readers can race this recovery (both see the live dir
        missing; one wins the rename, the other's raises) — the loser
        re-checks and proceeds against the winner's result instead of
        surfacing a spurious FileNotFoundError (the r3 advisory).  A
        reader can also revive ``.old`` while a *writer* is between its
        two renames; the writer side handles that (see
        :func:`_swap_dir`)."""
        p = os.path.join(self.path, name)
        old = p + ".old"
        if not os.path.exists(p) and os.path.isdir(old):
            try:
                os.rename(old, p)
            except OSError:
                if not os.path.exists(p):
                    raise
        return p

    def _read(self, name: str) -> DataFrame:
        """Open table ``name``.  Its schema is memoized per manifest
        revision: inferring it runs a Spark job that reads a parquet
        footer, once per open.  The files are still listed on every
        open, so a directory swap or an append is always seen."""
        path = self._table(name)
        schemas = _handle_cache(self, "_schema_cache")
        if name in schemas:
            return self.spark.read.schema(schemas[name]).parquet(path)
        df = self.spark.read.parquet(path)
        schemas[name] = df.schema
        return df

    def postings(self) -> DataFrame:
        return self._read("postings")

    def docs(self) -> DataFrame:
        """Per-document ledger (doc_id, dl) — doc_id-sorted parquet, the
        membership/length table incremental appends guard against."""
        return self._read("docs")

    def has_doc_fields(self) -> bool:
        return os.path.isdir(os.path.join(self.path, "doc_fields")) or (
            os.path.isdir(os.path.join(self.path, "doc_fields.old"))
        )

    def doc_fields(self) -> DataFrame:
        """Per-(doc_id, field) ledger: (doc_id, field, frame_count,
        token_count).  Carries frames whose tokens were ALL stop-marked
        (they have no postings), so field statistics survive deletes
        exactly — closing the documented pseudo-frame deviation (r5)."""
        return self._read("doc_fields")

    def doc_lens(self) -> DataFrame:
        """(doc_id, dl) for document-level scoring — the docs ledger."""
        return self.docs().select("doc_id", "dl")

    def attributes(self) -> DataFrame:
        """Persisted frame attributes (doc_id, frame_seq, type, value) —
        the reference's attribute/frame_attribute_posting tables
        (_sqlite_v0_10_0_schema.py:145-203)."""
        return self._read("attributes")

    def stored_documents(self) -> DataFrame:
        """The source document table this index was built from (the
        reference's stored-fields iteration, storage/sqlite.py:771-812).
        The Spark restatement leaves documents in the source parquet and
        records its path in the manifest; joining hits back to content
        is a doc_id equi-join against this relation."""
        src = self.manifest.get("source")
        if not src:
            raise ValueError(
                f"index at {self.path} was built without source=; "
                "no stored-document pointer recorded"
            )
        return self.spark.read.parquet(src)

    def has_forward(self) -> bool:
        return os.path.isdir(os.path.join(self.path, "forward")) or (
            os.path.isdir(os.path.join(self.path, "forward.old"))
        )

    def forward(self) -> DataFrame:
        """Doc-major posting copy (fwd_bucket, doc_id, field, frame_seq,
        term, freq) — built ``with_forward=True``.  Per-document reads
        go through :meth:`doc_forward`, which prunes to one bucket."""
        return self._read("forward")

    def doc_forward(self, doc_id: int) -> DataFrame:
        """One document's forward rows: fwd_bucket partition pruning
        (computed driver-side, no pre-job) + a literal doc_id predicate
        that parquet row-group min/max stats use because files are
        doc-sorted — a point read, not a scan."""
        nb = self.manifest.get("fwd_buckets")
        fwd = self.forward()
        if nb:
            fwd = fwd.where(F.col("fwd_bucket") == int(doc_id) % int(nb))
        return fwd.where(F.col("doc_id") == doc_id)

    def term_stats(self) -> DataFrame:
        return self._read("term_stats")

    def field_stats(self) -> DataFrame:
        return self._read("field_stats")

    def num_buckets(self) -> int:
        return self.manifest["num_buckets"]

    def lists(self) -> DataFrame:
        """Compressed posting-list block rows (postinglists.py layout)."""
        return self._read("lists")

    def position_lists(self) -> DataFrame:
        """Compressed position rows (POSITION_LIST_SCHEMA) — present
        when the index was built ``with_positions=True``; phrase/ngram
        search runs over this instead of the raw postings
        (query/phrase.py)."""
        return self._read("positions")

    def compressed(self):
        """CompressedIndex view for the WAND query engine."""
        from caterpillar_spark.query.wand import CompressedIndex

        m = self.manifest
        return CompressedIndex(
            self.lists(), m["n_docs"], m["avgdl"], m["num_buckets"],
            m.get("block_bits"),
        )


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.json")


def _load_manifest(path: str) -> Optional[dict]:
    try:
        with open(_manifest_path(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _save_manifest(path: str, manifest: dict) -> None:
    atomic_write_json(_manifest_path(path), manifest, indent=2, sort_keys=True)


def _swap_dir(final: str, tmp: str) -> None:
    """Replace directory ``final`` with ``tmp`` via rename pairs.

    There IS a brief window between the two renames where ``final`` is
    absent (plain-filesystem rename pairs are not one atomic commit); a
    crash inside it leaves the table only at ``final + '.old'``.
    :meth:`InvertedIndex._table` recovers that state at open time by
    renaming ``.old`` back, so readers never see a missing table across
    a crash; a crash after the second rename leaves at worst a stale
    ``.old`` that the next swap garbage-collects."""
    old = final + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(final):
        os.rename(final, old)
    try:
        os.rename(tmp, final)
    except OSError:
        # A concurrent reader's crash recovery (InvertedIndex._table)
        # revived `.old` back to `final` inside the rename window.  The
        # revived dir holds the OLD data — move it aside again and
        # retry the commit rather than aborting the rewrite.
        if os.path.exists(final):
            shutil.rmtree(old, ignore_errors=True)
            os.rename(final, old)
            os.rename(tmp, final)
        else:
            raise
    shutil.rmtree(old, ignore_errors=True)


def _replace_tables(
    root: str, tables: dict, tag: str, parts: Optional[int] = None
) -> None:
    """Rewrite each named table of the index at ``root``: stage every
    one beside its live directory (``_<name>.<tag>``), then swap them
    in one by one (:func:`_swap_dir`)."""
    staged = {}
    for name, df in tables.items():
        staged[name] = os.path.join(root, f"_{name}.{tag}")
        shutil.rmtree(staged[name], ignore_errors=True)
        write_table(df, staged[name], name, parts=parts)
    for name, tmp in staged.items():
        _swap_dir(os.path.join(root, name), tmp)


def fold_statistics(index: InvertedIndex) -> dict:
    """The index's statistics tables with partial rows (one set per
    append) summed to one row per key: ``term_stats`` per (term, field)
    and ``field_stats`` per field."""
    term_stats = index.term_stats().groupBy("term", "field", "term_bucket").agg(
        F.sum("total_occurrences").alias("total_occurrences"),
        F.sum("frames_occuring").alias("frames_occuring"),
        F.sum("docs_occuring").alias("docs_occuring"),
    )
    field_stats = index.field_stats().groupBy("field").agg(
        F.sum("frame_count").alias("frame_count"),
        F.sum("doc_count").alias("doc_count"),
        F.sum("token_count").alias("token_count"),
        (F.sum("token_count") / F.sum("frame_count")).alias("avg_frame_tokens"),
    )
    return {"term_stats": term_stats, "field_stats": field_stats}


def _posting_tables(posts: DataFrame, manifest: dict, doc_lens: DataFrame) -> dict:
    """The tables derived from bucketed postings ``posts``: the postings
    themselves, the compressed lists (block bounds against the
    manifest's avgdl) and term statistics, plus the positions and
    forward layouts when the manifest carries them."""
    from caterpillar_spark.indexing.postinglists import (
        build_position_lists,
        build_posting_lists,
    )

    raw = posts.drop("term_bucket")
    nb, bits = manifest["num_buckets"], manifest.get("block_bits", 4)
    tables = {
        "postings": posts,
        "lists": build_posting_lists(
            raw, num_buckets=nb, block_bits=bits,
            avgdl=manifest["avgdl"], doc_lens=doc_lens,
        ),
        "term_stats": postings_with_bucket(term_statistics(raw), nb),
    }
    if manifest.get("with_positions"):
        tables["positions"] = build_position_lists(raw, num_buckets=nb, block_bits=bits)
    if manifest.get("with_forward"):
        tables["forward"] = forward_rows(raw, manifest.get("fwd_buckets", nb))
    return tables


def build_index(
    frames: DataFrame,
    path: str,
    num_buckets: int = DEFAULT_BUCKETS,
    checkpoint_groups: int = 1,
    resume: bool = True,
    block_bits: int = 4,
    source: Optional[str] = None,
    with_positions: bool = False,
    with_forward: bool = True,
) -> InvertedIndex:
    """Build (or resume building) the inverted index at ``path``,
    serialized against other writers by the index write lock
    (indexing/lock.py — the reference's PID-lock analog,
    locking.py:50-195)."""
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(path):
        return _build_index_locked(
            frames, path, num_buckets, checkpoint_groups, resume,
            block_bits, source, with_positions, with_forward,
        )


def _build_index_locked(
    frames: DataFrame,
    path: str,
    num_buckets: int = DEFAULT_BUCKETS,
    checkpoint_groups: int = 1,
    resume: bool = True,
    block_bits: int = 4,
    source: Optional[str] = None,
    with_positions: bool = False,
    with_forward: bool = True,
) -> InvertedIndex:
    """Build (or resume building) the inverted index at ``path``.

    ``checkpoint_groups`` > 1 splits the term-bucket space into that many
    slices, committing each slice independently with a manifest entry —
    a killed build restarts from the first incomplete slice.  Lineage =
    the (bucket range, wall time) per slice.  Each slice writes both the
    raw positional postings AND the compressed posting-list layout
    (delta-gap+varint blocks with block-max metadata, postinglists.py)
    via *dynamic partition overwrite*, so re-running a slice after a
    crash is idempotent — a half-written slice is simply overwritten.

    ``block_bits`` sizes the doc-range block space of the compressed
    lists (2^block_bits blocks).  The default 4 suits sandbox-scale
    corpora (<=~10^5 docs); size it so a hot term's per-block row
    carries ~3*10^4..10^8 postings — >= 10 at web scale (10^9+ docs),
    where it both shards the encode skew-free and keeps WAND pruning
    granular.  Measured at both settings on a 2M-doc corpus in
    BASELINE.md ("Block sizing at 2M docs").

    ``source`` (optional) records the source document table's path in
    the manifest as the stored-document pointer
    (:meth:`InvertedIndex.stored_documents`).

    ``with_positions`` additionally writes the compressed positions
    layout (``positions/``, POSITION_LIST_SCHEMA) per slice, so
    phrase/ngram search runs over delta+varint position streams
    instead of the raw postings parquet (query/phrase.py).

    ``with_forward`` (default on) writes the doc-major ``forward/``
    layout — the reference's frame-clustered second posting copy
    (_sqlite_v0_10_0_schema.py:121-142) — so per-document term reads
    (MoreLikeThis seeds, tf vectors) are bucket-pruned point reads
    instead of term-major postings scans.  It is written once from the
    full postings relation (doc partitioning is orthogonal to the
    term-bucket checkpoint slices) alongside the statistics tables.
    """
    spark = frames.sparkSession
    loaded = _load_manifest(path) if resume else None
    manifest = loaded or {
        "revision": 0,
        "num_buckets": num_buckets,
        "block_bits": block_bits,
        "checkpoint_groups": checkpoint_groups,
        "completed_slices": {},
        "stats_done": False,
        "metrics": {},
    }
    manifest.setdefault("block_bits", block_bits)
    if manifest["num_buckets"] != num_buckets:
        raise ValueError(
            f"index at {path} was built with num_buckets="
            f"{manifest['num_buckets']}, got {num_buckets}"
        )
    if loaded is not None:
        # Resume must slice the bucket space exactly as the prior run
        # did: completed_slices keys index into the *prior* bounds, so a
        # different checkpoint_groups argument would silently skip
        # bucket ranges.  The manifest value wins.
        checkpoint_groups = manifest.get("checkpoint_groups", checkpoint_groups)
    if source is not None:
        manifest["source"] = source
    if with_positions:
        manifest["with_positions"] = True  # a resumed build keeps its flag
    if manifest.get("stats_done"):
        # resumed build past the stats/forward phase keeps its choice
        with_forward = bool(manifest.get("with_forward"))
    if with_forward:
        manifest["with_forward"] = True
        manifest.setdefault("fwd_buckets", num_buckets)
    if not manifest.get("stats_done"):
        manifest["with_doc_fields"] = True

    # The build reads the frames relation several times (corpus
    # constants, doc lengths, both posting layouts per slice, field
    # stats) — persist it so the analysis UDF runs exactly once.
    # DataFrame.persist defaults to MEMORY_AND_DISK, so at scale this
    # spills instead of recomputing.
    frames.persist()
    posts = postings_with_bucket(frames_to_postings(frames), num_buckets)

    # Corpus constants for BM25 (document count, avg doc length) come
    # from the full frames relation, not a slice; cached in the manifest
    # so a resumed build skips the pass.
    doc_lens = frames.groupBy("doc_id").agg(
        F.sum("frame_tokens").cast("long").alias("dl")
    )
    if "n_docs" not in manifest:
        agg = doc_lens.agg(
            F.count("*").alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        manifest["n_docs"] = int(agg["n"])
        manifest["avgdl"] = float(agg["avgdl"] or 1.0)
        _save_manifest(path, manifest)

    bounds = [
        (g * num_buckets // checkpoint_groups,
         (g + 1) * num_buckets // checkpoint_groups)
        for g in range(checkpoint_groups)
    ]
    from concurrent.futures import ThreadPoolExecutor

    # Write parallelism is decoupled from the bucket count: shuffle by
    # term hash (a term's rows colocate, so term-sorted files and
    # row-group pruning survive), so every core writes even when
    # num_buckets < cores; the writer routes rows into bucket dirs.
    # Slices use dynamic partition overwrite, so re-running a slice
    # after a crash replaces only its own buckets.
    wp = max(spark.sparkContext.defaultParallelism * 2, 2)

    # All outputs derive from the same persisted frames and land in
    # different directories, so they run as concurrent Spark jobs — one
    # job's task tail fills another's scheduler gap.  Checkpoint
    # granularity is preserved: a slice's manifest entry is written only
    # once both of its layouts are on disk, and a crash simply re-runs
    # unacknowledged slices (idempotent dynamic partition overwrite).
    with ThreadPoolExecutor(4) as pool:

        def write(name, df, **kw):
            return pool.submit(write_table, df, os.path.join(path, name), name, **kw)

        t0 = time.time()
        slice_futs = []
        for g, (lo, hi) in enumerate(bounds):
            key = str(g)
            if key in manifest["completed_slices"]:
                continue
            tables = _posting_tables(
                posts.where((F.col("term_bucket") >= lo) & (F.col("term_bucket") < hi)),
                manifest, doc_lens,
            )
            futs = [
                write(name, tables[name], parts=wp, dynamic=True)
                for name in ("postings", "lists", "positions") if name in tables
            ]
            slice_futs.append((key, lo, hi, futs))
        stats_futs = []
        if not manifest.get("stats_done"):
            # The pipeline is deterministic in `frames`, so the in-memory
            # postings relation equals what the slices persisted (also on
            # resume, where the caller passes the same input) — derive
            # the statistics and forward copy from it directly.
            tables = _posting_tables(posts, manifest, doc_lens)
            stats_futs = [
                write("term_stats", tables["term_stats"],
                      parts=max(spark.sparkContext.defaultParallelism, 2)),
                write("field_stats", field_statistics(frames)),
                write("docs", doc_lens),
                # from the FRAMES relation, so frames with no postings
                # (all tokens stop-marked) count: deletes rebuild field
                # statistics exactly from this ledger
                write("doc_fields", doc_field_stats(frames)),
            ]
            if with_forward:
                stats_futs.append(write("forward", tables["forward"], parts=wp))
        for key, lo, hi, futs in slice_futs:
            for f in futs:
                f.result()
            manifest["completed_slices"][key] = {
                "bucket_lo": lo,
                "bucket_hi": hi,
                "seconds": round(time.time() - t0, 3),
            }
            _save_manifest(path, manifest)
        if stats_futs:
            for f in stats_futs:
                f.result()
            manifest["stats_done"] = True
            manifest["metrics"]["stats_seconds"] = round(time.time() - t0, 3)
            manifest["revision"] = manifest.get("revision", 0) + 1
            _save_manifest(path, manifest)

    frames.unpersist()
    return InvertedIndex(spark, path)


def add_attributes(index: InvertedIndex, attributes: DataFrame) -> InvertedIndex:
    """Append frame/document attribute annotations to the index and
    bump its revision.

    The reference appends attributes *post-indexing*, kept in tables
    separate from the postings for write locality
    (``IndexWriter.append_frame_attributes``, processing/index.py:
    513-528; storage layout _sqlite_v0_10_0_schema.py:145-203, with an
    on-conflict-ignore primary key so re-appends are no-ops).  The
    Spark restatement is an ``<index>/attributes`` parquet table
    partitioned by attribute ``type`` (search prunes to the queried
    types) with an anti-join dedupe standing in for the conflict-ignore
    key.

    ``attributes`` must have columns (doc_id, frame_seq, type, value);
    ``value`` is stored as string (the reference leans on SQLite
    dynamic typing; a columnar layout needs one type — numeric
    attributes compare through a cast at query time).
    """
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(index.path):
        return _add_attributes_locked(index, attributes)


def _add_attributes_locked(index: InvertedIndex, attributes: DataFrame) -> InvertedIndex:
    path = os.path.join(index.path, "attributes")
    df = (
        attributes.select(
            F.col("doc_id").cast("long"),
            F.col("frame_seq").cast("int"),
            F.col("type").cast("string"),
            F.col("value").cast("string"),
        )
        .dropDuplicates(["doc_id", "frame_seq", "type", "value"])
    )
    if os.path.isdir(path):
        df = df.join(
            index.attributes(),
            ["doc_id", "frame_seq", "type", "value"],
            "left_anti",
        )
    write_table(df, path, "attributes", mode="append")
    manifest = index.manifest
    manifest["revision"] = manifest.get("revision", 0) + 1
    _save_manifest(index.path, manifest)
    return InvertedIndex(index.spark, index.path)


def build_forward(
    index: InvertedIndex, fwd_buckets: Optional[int] = None
) -> InvertedIndex:
    """Backfill the doc-major ``forward/`` layout onto an existing
    index that was built before (or without) it — one full postings
    column scan, staged write + gap-free swap, revision bumped.  The
    migration path for pre-r5 indexes; no-op when already present.
    Writer-locked."""
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(index.path):
        if index.has_forward():
            return index
        spark = index.spark
        manifest = index.manifest
        nb = int(
            fwd_buckets
            or manifest.get("fwd_buckets")
            or manifest["num_buckets"]
        )
        _replace_tables(
            index.path, {"forward": forward_rows(index.postings(), nb)},
            "backfill", parts=max(spark.sparkContext.defaultParallelism * 2, 2),
        )
        manifest["with_forward"] = True
        manifest["fwd_buckets"] = nb
        manifest["revision"] = manifest.get("revision", 0) + 1
        _save_manifest(index.path, manifest)
        return InvertedIndex(spark, index.path)


def optimize_index(index: InvertedIndex) -> InvertedIndex:
    """Compact the index: rewrite each layout with one sorted file per
    term bucket (incremental appends and many-slice builds leave many
    small files; compaction restores the one-sorted-run-per-bucket
    layout that row-group pruning wants).  Also folds any partial
    statistics rows (streaming appends) into one row per key.  Staged
    rewrite + gap-free rename swap (:func:`_swap_dir` — per-table
    rename pairs, not one atomic multi-table commit), revision
    bumped.  Writer-locked.

    The manifest ``avgdl`` and ``n_docs`` are kept: the lists are
    copied, not re-encoded, so their block bounds still rest on the
    frozen avgdl (see streaming/incremental.py)."""
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(index.path):
        return _optimize_index_locked(index)


def _optimize_index_locked(index: InvertedIndex) -> InvertedIndex:
    tables = fold_statistics(index)
    for name in ("postings", "lists", "positions", "forward", "docs",
                 "doc_fields", "attributes"):
        p = index._table(name)
        if os.path.isdir(p):
            tables[name] = index.spark.read.parquet(p)
    _replace_tables(index.path, tables, "compact")

    manifest = index.manifest
    manifest["revision"] = manifest.get("revision", 0) + 1
    manifest.setdefault("metrics", {})["last_optimize_revision"] = manifest[
        "revision"
    ]
    _save_manifest(index.path, manifest)
    return InvertedIndex(index.spark, index.path)


def delete_documents(index: InvertedIndex, doc_ids) -> InvertedIndex:
    """Remove documents from a persisted index and bump its revision.

    The reference queues soft deletes and applies them at flush by
    decrementing postings/frames/stats (storage/sqlite.py:336-339,
    _sqlite_scripts.py:139-189).  The Spark rebuild rewrites instead:
    an anti-join drops the deleted docs' rows from both posting layouts
    and the statistics are recomputed from the survivors — on Iceberg
    this would be a row-level MERGE DELETE; on plain parquet it is a
    staged rewrite + gap-free rename swap.  A document's terms hash into every
    bucket, so all partitions are rewritten (deletes are rare,
    whole-index maintenance events at this layer).  Writer-locked.

    Field statistics after a delete rebuild from the ``doc_fields``
    ledger when the index has one (exact — frames whose tokens were
    ALL stop-marked are preserved; this closed the r2-r4 documented
    pseudo-frame deviation); legacy indexes without the ledger keep
    the pseudo-frame reconstruction and its deviation.
    """
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(index.path):
        return _delete_documents_locked(index, doc_ids)


def _delete_documents_locked(index: InvertedIndex, doc_ids) -> InvertedIndex:
    spark = index.spark
    manifest = index.manifest
    doc_ids = [int(d) for d in doc_ids]
    ids_df = _local_frame(spark, [(d,) for d in doc_ids], "doc_id long")
    remaining = index.postings().join(
        F.broadcast(ids_df), "doc_id", "left_anti"
    )
    # Pseudo-frames from surviving postings (deviation: frames whose
    # tokens were all stop-marked carry no postings and are lost here;
    # the reference keeps them — documented in SURVEY §8 terms).
    pseudo_frames = remaining.dropDuplicates(
        ["doc_id", "field", "frame_seq"]
    ).select("doc_id", "field", "frame_seq", "frame_tokens")
    if os.path.isdir(os.path.join(index.path, "docs")):
        # The docs ledger has exact document lengths (including frames
        # with no surviving postings) — prefer it over the pseudo-frame
        # reconstruction.
        doc_lens = index.docs().join(
            F.broadcast(ids_df), "doc_id", "left_anti"
        ).select("doc_id", "dl")
    else:
        doc_lens = pseudo_frames.groupBy("doc_id").agg(
            F.sum("frame_tokens").cast("long").alias("dl")
        )
    # The lists are re-encoded, so their block bounds can take the
    # survivors' avgdl: the one path that refreshes it.
    agg = doc_lens.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    manifest["n_docs"] = int(agg["n"])
    manifest["avgdl"] = float(agg["avgdl"] or 1.0)

    tables = _posting_tables(remaining, manifest, doc_lens)
    tables["docs"] = doc_lens
    if index.has_doc_fields():
        surviving_ledger = index.doc_fields().join(
            F.broadcast(ids_df), "doc_id", "left_anti"
        )
        tables["field_stats"] = field_statistics_from_ledger(surviving_ledger)
        tables["doc_fields"] = surviving_ledger
    else:
        tables["field_stats"] = field_statistics(pseudo_frames)
    _replace_tables(index.path, tables, "rewrite")

    manifest["revision"] = manifest.get("revision", 0) + 1
    manifest.setdefault("metrics", {})["deleted_docs"] = manifest.get(
        "metrics", {}
    ).get("deleted_docs", 0) + len(doc_ids)
    _save_manifest(index.path, manifest)
    return InvertedIndex(spark, index.path)


def index_info(index: InvertedIndex) -> dict:
    """Operational snapshot of a persisted index: manifest identity,
    per-layout on-disk footprint, and corpus statistics.

    Driver-side: the footprint walk touches file metadata only (layout
    directories hold one file per bucket/slice — thousands of entries,
    not corpus-scale) and the two statistics reads are metadata-table
    scans (term_stats/field_stats are per-term/per-field relations).
    """
    m = index.manifest
    layouts = {}
    for name in sorted(os.listdir(index.path)):
        p = os.path.join(index.path, name)
        if not os.path.isdir(p) or name.endswith(".old"):
            continue
        files = nbytes = 0
        for root, _dirs, fnames in os.walk(p):
            for f in fnames:
                files += 1
                nbytes += os.path.getsize(os.path.join(root, f))
        layouts[name] = {"files": files, "bytes": nbytes}
    stats = index.term_stats().groupBy().agg(
        F.countDistinct("term").alias("vocab"),
        F.sum("total_occurrences").alias("tokens"),
    ).first()
    return {
        "path": index.path,
        "revision": m.get("revision"),
        "num_buckets": m.get("num_buckets"),
        "block_bits": m.get("block_bits"),
        "with_positions": bool(m.get("with_positions")),
        "source": m.get("source"),
        "n_docs": m.get("n_docs"),
        "avgdl": m.get("avgdl"),
        "vocabulary_size": int(stats["vocab"] or 0),
        "total_tokens": int(stats["tokens"] or 0),
        "layouts": layouts,
        "total_bytes": sum(v["bytes"] for v in layouts.values()),
    }
