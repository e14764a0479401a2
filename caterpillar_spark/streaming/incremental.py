"""Incremental index maintenance with Structured Streaming.

The reference is a batch engine with *transactional increments*: each
``IndexWriter.commit()`` merges staged postings/statistics into the
stored index and bumps a monotone revision tuple
(storage/sqlite.py:133-150, _sqlite_scripts.py:305-341,
_sqlite_v0_10_0_schema.py:223-251).  The Spark-native restatement is a
``readStream -> foreachBatch`` loop over the webtext table's landing
directory: every micro-batch appends both posting layouts and *partial*
statistics rows, then bumps the manifest revision — one manifest entry
per batch is the lineage.

Design decisions (documented deviations):

* **Partial statistics, merge-on-read.**  Per-batch term/field
  statistics are appended as partial rows; the query engine already
  aggregates statistics with ``groupBy(term).agg(sum(...))``
  (query/engine.py:_resolve_weights), so readers see exact merged
  numbers without a rewrite — the reference's UNION-ALL + re-sum merge
  (_sqlite_scripts.py:305-341) becomes the read path.
  :func:`compact_statistics` folds the partials back into one row per
  key (run it periodically, like the reference's flush).
* **Frozen avgdl for block-max bounds.**  ``max_score_q`` stored in a
  block is computed against the avgdl in the manifest at append time.
  WAND must score with the same avgdl its bounds were built with, so
  the manifest avgdl is frozen at the first build; document
  frequencies and N stay live.  Only ``delete_documents`` refreshes it,
  because it re-encodes every list; ``optimize_index`` and
  :func:`compact_statistics` copy the lists and keep it.  (Refreshing
  avgdl per batch would silently invalidate older blocks' upper
  bounds — stale-upward is safe, stale-downward is not.)  After an
  append, WAND therefore scores with the frozen avgdl while
  ``search(scorer="bm25_doc")`` uses the docs ledger's current mean.
* Appends are idempotent per Structured Streaming's exactly-once
  ``foreachBatch`` contract with a checkpointLocation; the manifest
  batch ledger double-checks (a replayed batch_id is skipped).
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from caterpillar_spark.indexing.build import (
    InvertedIndex,
    _load_manifest,
    _posting_tables,
    _replace_tables,
    _save_manifest,
    doc_field_stats,
    field_statistics,
    fold_statistics,
    postings_with_bucket,
    write_table,
)
from caterpillar_spark.framing import build_frames, frames_to_postings


def append_batch(
    frames: DataFrame,
    path: str,
    num_buckets: int = 64,
    block_bits: int = 4,
    batch_id: Optional[int] = None,
    on_existing: str = "skip",
) -> InvertedIndex:
    """Append one batch of frames to the index at ``path`` (creating it
    if absent) and bump the revision.  Safe to call directly for
    batch-mode incremental loads; ``start_incremental_index`` calls it
    from foreachBatch.

    **Append-only-new-docs contract**: appends assume never-seen
    doc_ids — re-appending an already-indexed document would duplicate
    its postings, double-count statistics, and corrupt WAND's
    conjunctive term counts.  ``on_existing`` guards it against the
    ``docs`` ledger table:

    * ``'skip'`` (default) — already-indexed doc_ids are filtered out
      of the batch (idempotent re-ingest);
    * ``'error'`` — raise ``ValueError`` listing the clashing count;
    * ``'allow'`` — skip the ledger probe entirely (caller guarantees
      novelty; for updates, ``delete_documents`` first, then append).

    The probe is one columnar scan of the single-column doc ledger with
    the (small) batch id set broadcast into the semi-join — at 10^9
    docs that is one bigint column read, amortizable by batching.

    Concurrent callers on one index path SERIALIZE on the index write
    lock (indexing/lock.py): the manifest is read inside the lock, so
    a second writer sees the first one's revision/ledger rather than
    racing it (the reference's PID-lock contract, locking.py:50-195).
    """
    if on_existing not in ("skip", "error", "allow"):
        raise ValueError(f"on_existing must be skip|error|allow, got {on_existing!r}")
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(path):
        return _append_batch_locked(
            frames, path, num_buckets, block_bits, batch_id, on_existing
        )


def _append_batch_locked(
    frames: DataFrame,
    path: str,
    num_buckets: int,
    block_bits: int,
    batch_id: Optional[int],
    on_existing: str,
) -> InvertedIndex:
    spark = frames.sparkSession
    docs_path = os.path.join(path, "docs")
    manifest = _load_manifest(path) or {
        "revision": 0,
        "num_buckets": num_buckets,
        "block_bits": block_bits,
        "checkpoint_groups": 1,
        "completed_slices": {},
        "stats_done": True,
        "metrics": {},
        "batches": {},
        # appends to a fresh path build the forward layout and the
        # doc_fields ledger too (the build_index defaults); existing
        # indexes keep their choice
        "with_forward": True,
        "fwd_buckets": num_buckets,
        "with_doc_fields": True,
    }
    manifest.setdefault("batches", {})
    if batch_id is not None and str(batch_id) in manifest["batches"]:
        return InvertedIndex(spark, path)  # replayed batch: already applied

    if (
        on_existing != "allow"
        and not os.path.isdir(docs_path)
        and manifest.get("revision", 0) > 0
    ):
        # Index predates the docs ledger (built before docs/ existed):
        # silently passing the guard here would let originally-indexed
        # doc_ids be re-appended and double-counted, with later probes
        # reporting clean against a partial ledger.  Backfill the ledger
        # from the postings' distinct frames first (one full postings
        # column scan — a one-time migration cost per legacy index).
        # Deviation (documented): a frame whose tokens were ALL
        # stop-marked carries no postings, so its length is missing from
        # the backfilled dl — same deviation as delete_documents'
        # pseudo-frames; an original-build ledger has the exact dl.
        # The write is staged and swapped in (_replace_tables): a crash
        # mid-backfill must not leave a partial docs/ dir that the next
        # append's isdir gate would treat as a complete ledger (r3
        # advisory).
        backfill = (
            spark.read.parquet(os.path.join(path, "postings"))
            .select("doc_id", "field", "frame_seq", "frame_tokens")
            .dropDuplicates(["doc_id", "field", "frame_seq"])
            .groupBy("doc_id")
            .agg(F.sum("frame_tokens").cast("long").alias("dl"))
        )
        _replace_tables(path, {"docs": backfill}, "backfill")

    # Persist before the duplicate probe, the batch's first action, so
    # the framing UDF runs once per batch rather than once for the
    # probe and again for the writes.  Only what this call persisted is
    # unpersisted: the caller's cached frames stay cached.
    owned = frames.storageLevel == StorageLevel.NONE
    cached = [frames.persist()] if owned else []
    try:
        if on_existing != "allow" and os.path.isdir(docs_path):
            new_ids = frames.select("doc_id").distinct()
            dupes = (
                spark.read.parquet(docs_path)
                .select("doc_id")
                .join(F.broadcast(new_ids), "doc_id", "left_semi")
            )
            n_dup = dupes.count()
            if n_dup:
                if on_existing == "error":
                    raise ValueError(
                        f"{n_dup} doc_ids in this batch are already indexed at "
                        f"{path}; delete_documents first or use on_existing='skip'"
                    )
                frames = frames.join(F.broadcast(dupes), "doc_id", "left_anti")
                cached.append(frames.persist())
                if frames.isEmpty():
                    return InvertedIndex(spark, path)  # nothing new in batch
        _write_batch(frames, path, manifest, batch_id)
    finally:
        for df in cached:
            df.unpersist()
    return InvertedIndex(spark, path)


def _write_batch(
    frames: DataFrame, path: str, manifest: dict, batch_id: Optional[int]
) -> None:
    """Append one batch of never-seen documents to every table of the
    index at ``path`` and commit its manifest entry."""
    t0 = time.time()
    doc_tok = frames.groupBy("doc_id").agg(
        F.sum("frame_tokens").cast("long").alias("dl")
    )
    agg = doc_tok.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tok")
    ).collect()[0]
    batch_docs, batch_tokens = int(agg["n"]), int(agg["tok"] or 0)
    if "avgdl" not in manifest:
        manifest["avgdl"] = batch_tokens / batch_docs if batch_docs else 1.0
        manifest["n_docs"] = 0

    posts = postings_with_bucket(frames_to_postings(frames), manifest["num_buckets"])
    tables = _posting_tables(posts, manifest, doc_tok)
    tables["field_stats"] = field_statistics(frames)
    tables["docs"] = doc_tok
    if manifest.get("with_doc_fields"):
        # per-(doc, field) ledger append — NOT written on legacy
        # indexes without the flag (a partial ledger would undercount
        # field statistics on the delete path)
        tables["doc_fields"] = doc_field_stats(frames)
    for name, df in tables.items():
        write_table(df, os.path.join(path, name), name, mode="append")

    manifest["n_docs"] += batch_docs
    manifest["revision"] += 1
    key = str(batch_id) if batch_id is not None else f"rev{manifest['revision']}"
    manifest["batches"][key] = {
        "docs": batch_docs,
        "tokens": batch_tokens,
        "seconds": round(time.time() - t0, 3),
    }
    _save_manifest(path, manifest)


def start_incremental_index(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    checkpoint_path: str,
    num_buckets: int = 64,
    block_bits: int = 4,
    metadata_cols=("lang",),
    max_files_per_trigger: Optional[int] = None,
    available_now: bool = True,
):
    """Tail the webtext landing directory and fold new files into the
    index, one revision per micro-batch."""
    from caterpillar_spark.sources import WEBTEXT_SCHEMA, ingest_webtext

    reader = spark.readStream.schema(WEBTEXT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        frames = build_frames(
            ingest_webtext(batch_df), metadata_cols=list(metadata_cols)
        )
        append_batch(
            frames, index_path, num_buckets=num_buckets,
            block_bits=block_bits, batch_id=batch_id,
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_statistics(index: InvertedIndex) -> None:
    """Fold appended partial statistics rows into one row per key (the
    reference's flush-time merge, _sqlite_scripts.py:305-341).
    Writer-locked."""
    from caterpillar_spark.indexing.lock import write_lock

    with write_lock(index.path):
        _replace_tables(index.path, fold_statistics(index), "compact")
