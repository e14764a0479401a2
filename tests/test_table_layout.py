"""Physical layout of the persisted index tables: every writer leaves
each parquet file sorted by its table's declared keys, inside the
declared partition directories, and maintenance keeps the frozen BM25
corpus constants."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from caterpillar_spark.framing import build_frames, frames_to_postings
from caterpillar_spark.indexing.build import (
    LAYOUTS,
    InvertedIndex,
    add_attributes,
    build_index,
    delete_documents,
    optimize_index,
)
from caterpillar_spark.sources import ingest_webtext, synthetic_webtext
from caterpillar_spark.streaming import append_batch, compact_statistics

CHECKED = ("postings", "lists", "positions", "term_stats", "forward",
           "attributes", "docs", "doc_fields")


@pytest.fixture(scope="module")
def corpus(spark):
    """One 80-doc corpus split by page ordinal into a 60-doc base and a
    20-doc batch of never-seen documents."""
    full = synthetic_webtext(spark, 80, seed=17, partitions=2)
    ordinal = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")

    def frames(cond):
        return build_frames(ingest_webtext(full.where(cond)), metadata_cols=["lang"])

    return frames(ordinal < 60), frames(ordinal >= 60)


def unsorted_files(tdir, table):
    """Files of ``table`` stored at ``tdir`` whose rows are out of the
    declared key order or that sit outside a partition directory."""
    lay = LAYOUTS[table]
    keys = list(lay.keys)
    bad, seen = [], 0
    for dirpath, _, files in os.walk(tdir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            seen += 1
            rel = os.path.relpath(os.path.join(dirpath, f), tdir)
            if lay.partition and not os.path.basename(dirpath).startswith(
                lay.partition + "="
            ):
                bad.append(rel)
                continue
            t = pq.ParquetFile(os.path.join(dirpath, f)).read(columns=keys)
            rows = list(zip(*(t.column(k).to_pylist() for k in keys)))
            if rows != sorted(rows):
                bad.append(rel)
    assert seen, f"no parquet files for {table} at {tdir}"
    return bad


def assert_layouts(root, step):
    for table in CHECKED:
        tdir = os.path.join(root, table)
        if os.path.isdir(tdir):
            assert unsorted_files(tdir, table) == [], (step, table)


def test_every_writer_keeps_declared_sort(spark, corpus, tmp_path):
    from caterpillar_spark.query.wand import CompressedIndex

    base, extra = corpus
    path = str(tmp_path / "idx")

    idx = build_index(base, path, num_buckets=4, with_positions=True)
    assert_layouts(path, "build_index")

    attrs = base.select(
        "doc_id", "frame_seq",
        F.when(F.col("doc_id") % 2 == 0, "even").otherwise("odd").alias("type"),
        F.when(F.col("frame_tokens") > 12, "long").otherwise("short").alias("value"),
    )
    idx = add_attributes(idx, attrs)
    assert_layouts(path, "add_attributes")

    idx = append_batch(extra, path)
    assert_layouts(path, "append_batch")

    victims = [r["doc_id"] for r in extra.select("doc_id").distinct().limit(2).collect()]
    idx = delete_documents(idx, victims)
    assert_layouts(path, "delete_documents")

    idx = optimize_index(idx)
    assert_layouts(path, "optimize_index")
    assert os.path.isdir(os.path.join(path, "positions"))
    assert os.path.isdir(os.path.join(path, "attributes"))

    compact_statistics(idx)
    assert_layouts(path, "compact_statistics")

    cpath = str(tmp_path / "cidx")
    CompressedIndex.build(
        frames_to_postings(base), num_buckets=4, block_bits=3, path=cpath
    )
    assert unsorted_files(cpath, "lists") == []


def test_optimize_keeps_frozen_corpus_constants(spark, corpus, tmp_path):
    """optimize_index copies the compressed lists, so it must keep the
    manifest avgdl their block bounds were encoded with (and n_docs)."""
    base, extra = corpus
    path = str(tmp_path / "idx")
    build_index(base, path, num_buckets=4)
    idx = append_batch(extra, path)
    before = idx.manifest
    assert "total_tokens" not in before

    after = optimize_index(idx).manifest
    assert after["revision"] == before["revision"] + 1
    assert (after["avgdl"], after["n_docs"]) == (before["avgdl"], before["n_docs"])
    assert after["n_docs"] == InvertedIndex(spark, path).docs().count()
