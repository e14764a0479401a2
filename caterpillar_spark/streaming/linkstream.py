"""Incremental link-graph maintenance with Structured Streaming.

A crawl never stops, so the link side must absorb new page batches the
same way the index does (streaming/incremental.py): each micro-batch
appends an EDGE DELTA — the batch's host-pair link counts — and
readers merge deltas on read (counts are algebraic, so
``groupBy(src, dst).sum`` over base+deltas is exact).  PageRank/HITS/
degree then run on the merged view; :func:`compact_link_edges` folds
deltas into the base periodically, exactly like the statistics
compaction.

Consistency model (crash-safe at every step):

* The LEDGER file (atomic ``os.replace``) is the single source of
  truth: it names the current base directory (versioned,
  ``base_v{N}``) and the set of batch ids already folded into it.
* Appends: each delta lands in its own ``batch_id=N`` partition via
  dynamic partition overwrite, so a replayed micro-batch (Structured
  Streaming's at-least-once ``foreachBatch``) overwrites its own
  partition with identical content instead of double-counting; a
  batch the ledger already folded is skipped outright.
* Reads (:func:`merged_link_edges`): current base ⊕ deltas whose
  batch_id is NOT in the ledger.  A crash between compaction steps
  can therefore never double-count: until the ledger swap, readers
  use the old base + all deltas; after it, the new base + only
  unfolded deltas.
* Compaction: write ``base_v{N+1}``, swap the ledger, then delete
  ONLY the folded ``batch_id=`` partitions (a delta written by a
  concurrent micro-batch survives untouched) and the old base.
  Runs under the shared writer lock (indexing/lock.py) so two
  compactors serialize.

Scale notes: the per-batch delta is one host-pair aggregation of the
BATCH (small); the merge-on-read aggregation is edge-keyed (bounded by
the distinct host-pair count, not the crawl size); compaction is the
only full-edge-relation rewrite and it is one shuffle.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from caterpillar_spark.indexing.build import atomic_write_json
from caterpillar_spark.indexing.lock import write_lock
from caterpillar_spark.ops.linkgraph import extract_links, host_link_edges

__all__ = [
    "append_link_batch",
    "merged_link_edges",
    "start_link_stream",
    "compact_link_edges",
]

_LEDGER = "link_ledger.json"


def _ledger_path(path: str) -> str:
    return os.path.join(path, _LEDGER)


def _load_ledger(path: str) -> dict:
    """Missing ledger = fresh store (empty).  A PRESENT but unreadable
    ledger raises: it is the single source of truth for which deltas
    are already folded into which base — failing open would silently
    drop the whole compacted base from every read."""
    lp = _ledger_path(path)
    if not os.path.exists(lp):
        return {"batch_ids": set(), "base": None}
    with open(lp) as fh:
        d = json.load(fh)
    return {
        "batch_ids": set(d.get("batch_ids", [])),
        "base": d.get("base"),
    }


def _save_ledger(path: str, batch_ids: set, base: Optional[str]) -> None:
    atomic_write_json(
        _ledger_path(path), {"batch_ids": sorted(batch_ids), "base": base}
    )


def _batch_key(run_id: str, batch_id: int) -> str:
    return f"{run_id}-{int(batch_id)}"


def append_link_batch(
    pages: DataFrame, path: str, batch_id: int, run_id: str = "default"
) -> None:
    """Append one micro-batch's host-pair edge delta under
    ``{path}/deltas/batch_id={run_id}-{batch_id}``.

    ``run_id`` namespaces the Structured Streaming batch ids, which
    are only unique PER CHECKPOINT — :func:`start_link_stream` derives
    it from the checkpoint path, so restarting against a fresh
    checkpoint can never collide with (and silently drop into) an
    earlier run's ledger entries or delta partitions.

    Idempotent two ways: a replayed batch overwrites its own partition
    with identical content (the extraction is deterministic), and a
    batch the ledger already folded into the base is skipped
    entirely.  The dynamic overwrite mode is set per-WRITER (not on
    the shared session conf), so concurrent appends cannot race each
    other into a static full-directory overwrite.
    """
    key = _batch_key(run_id, batch_id)
    if key in _load_ledger(path)["batch_ids"]:
        return
    edges = host_link_edges(extract_links(pages)).withColumn(
        "batch_id", F.lit(key)
    )
    (
        edges.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(path, "deltas"))
    )


def _list_delta_keys(path: str) -> list:
    deltas = os.path.join(path, "deltas")
    if not os.path.isdir(deltas):
        return []
    return sorted(
        e.split("=", 1)[1]
        for e in os.listdir(deltas)
        if e.startswith("batch_id=")
    )


def _merge_edges(
    spark: SparkSession, path: str, base: Optional[str], keys: list
) -> DataFrame:
    """base ⊕ the named delta partitions, summed per host pair."""
    parts = []
    if base:
        parts.append(
            spark.read.parquet(os.path.join(path, base)).select(
                "src_host", "dst_host", "n_links"
            )
        )
    if keys:
        parts.append(
            spark.read.parquet(os.path.join(path, "deltas"))
            .where(F.col("batch_id").isin(keys))
            .select("src_host", "dst_host", "n_links")
        )
    if not parts:
        raise FileNotFoundError(f"no link edges at {path}")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return union.groupBy("src_host", "dst_host").agg(
        F.sum("n_links").alias("n_links")
    )


def merged_link_edges(spark: SparkSession, path: str) -> DataFrame:
    """Exact edge relation = current base ⊕ UNFOLDED deltas, merged on
    read (link counts are algebraic sums).

    Ordering matters for racing a concurrent compaction: the delta
    partitions are LISTED FIRST, the ledger loaded SECOND.  Any listed
    partition the ledger marks folded is excluded (its counts live in
    the ledger's base); any partition a compactor folds-and-deletes
    AFTER our listing is in the loaded (post-swap) ledger too, so it
    is excluded rather than silently lost.  The exclusion set is the
    intersection of listed partitions with the ledger — bounded by the
    compaction crash window, never the store's lifetime batch count.
    """
    listed = _list_delta_keys(path)
    ledger = _load_ledger(path)
    keys = [k for k in listed if k not in ledger["batch_ids"]]
    return _merge_edges(spark, path, ledger["base"], keys)


def start_link_stream(
    spark: SparkSession,
    landing_path: str,
    path: str,
    checkpoint_path: str,
    schema=None,
    trigger_once: bool = True,
):
    """readStream over a webtext landing directory → per-batch edge
    deltas.  Same contract as start_incremental_index: exactly-once
    per batch via the checkpoint + idempotent appends."""
    if schema is None:
        from caterpillar_spark.sources.webtext import WEBTEXT_SCHEMA

        schema = WEBTEXT_SCHEMA
    stream = spark.readStream.schema(schema).parquet(landing_path)
    import hashlib

    # realpath (not abspath): the same checkpoint reached through a
    # symlink must produce the same run_id, or a replay after restart
    # would land under a different key and double-count
    run_id = hashlib.md5(
        os.path.realpath(checkpoint_path).encode()
    ).hexdigest()[:8]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        append_link_batch(batch_df, path, batch_id, run_id=run_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_link_edges(spark: SparkSession, path: str) -> None:
    """Fold the currently-visible deltas into a NEW versioned base
    (one shuffle), swap the ledger atomically, then delete only the
    folded delta partitions and the old base.  A delta written
    concurrently by a streaming micro-batch is not touched.  Takes the
    shared writer lock so compactors serialize.

    Self-healing: before folding, any leftover garbage from an
    interrupted earlier compaction — delta partitions already in the
    ledger, base directories other than the ledger's current one — is
    removed, so a crash between the ledger swap and the cleanup loop
    leaks storage only until the NEXT compaction, never forever.

    Operational caveat: the deletes are immediate.  The merged COUNTS
    are exact for any reader at any crash point, but a long-running
    job that planned its scan against the old base before the swap can
    hit missing-file errors when the old directory is removed — pause
    compaction around long analytical reads, or snapshot the merged
    relation first (``merged_link_edges(...).localCheckpoint()``).
    """
    with write_lock(path):
        ledger = _load_ledger(path)
        deltas_dir = os.path.join(path, "deltas")
        # self-heal leftovers from an interrupted earlier run
        for e in os.listdir(path):
            if (
                e.startswith("base_v")
                and e != (ledger["base"] or "")
            ):
                shutil.rmtree(os.path.join(path, e), ignore_errors=True)
        if os.path.isdir(deltas_dir):
            for e in os.listdir(deltas_dir):
                if (
                    e.startswith("batch_id=")
                    and e.split("=", 1)[1] in ledger["batch_ids"]
                ):
                    shutil.rmtree(
                        os.path.join(deltas_dir, e), ignore_errors=True
                    )
        if not os.path.isdir(deltas_dir):
            return
        folded = sorted(
            e.split("=", 1)[1]
            for e in os.listdir(deltas_dir)
            if e.startswith("batch_id=")
        )
        folded = [b for b in folded if b not in ledger["batch_ids"]]
        if not folded:
            return
        # merge EXACTLY the listed batches (not "whatever is visible"):
        # a delta landing concurrently after this listing must stay out
        # of the new base, or the ledger would miss it and readers
        # would double-count it
        merged = _merge_edges(spark, path, ledger["base"], folded)
        old_base = ledger["base"]
        version = (
            int(old_base.rsplit("_v", 1)[1]) + 1 if old_base else 1
        )
        new_base = f"base_v{version}"
        merged.write.mode("overwrite").parquet(os.path.join(path, new_base))
        _save_ledger(
            path, ledger["batch_ids"] | set(folded), new_base
        )
        for b in folded:
            shutil.rmtree(
                os.path.join(deltas_dir, f"batch_id={b}"),
                ignore_errors=True,
            )
        if old_base:
            shutil.rmtree(os.path.join(path, old_base), ignore_errors=True)
