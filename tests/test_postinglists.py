"""Compressed posting lists + block-max WAND: codec round-trips,
build/decode fidelity, rank-identity of WAND vs brute-force BM25,
persistence round-trip."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from caterpillar_spark.indexing.codec import (
    decode_doc_gaps,
    decode_varints,
    encode_doc_gaps,
    encode_varints,
)


# ---------------------------------------------------------------- codec

@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    decoded = decode_varints(encode_varints(values))
    assert decoded.tolist() == values


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1, max_size=100, unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_doc_gap_roundtrip(ids):
    # unsigned sort order, as the block layout requires
    ids = sorted(ids, key=lambda x: x & 0xFFFFFFFFFFFFFFFF)
    gaps = encode_doc_gaps(ids)
    out = decode_doc_gaps(ids[0], gaps, len(ids))
    assert out.tolist() == ids


def test_doc_gap_rejects_unsorted():
    with pytest.raises(ValueError):
        encode_doc_gaps([5, 3])


# ------------------------------------------------------- build + decode

@pytest.fixture(scope="module")
def corpus(spark):
    from caterpillar_spark.framing import build_frames, frames_to_postings
    from caterpillar_spark.sources import ingest_webtext, synthetic_webtext

    docs = ingest_webtext(synthetic_webtext(spark, 300, seed=11))
    frames = build_frames(docs, metadata_cols=["lang"]).persist()
    frames.count()
    return frames_to_postings(frames).persist()


@pytest.fixture(scope="module")
def cindex(corpus):
    from caterpillar_spark.query.wand import CompressedIndex

    return CompressedIndex.build(corpus, num_buckets=8, block_bits=3)


def test_block_rows_decode_to_doc_postings(corpus, cindex):
    from caterpillar_spark.indexing.postinglists import (
        decode_block,
        doc_level_postings,
    )

    expected = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in doc_level_postings(corpus).collect()
    }
    got = {}
    for row in cindex.lists.collect():
        dec = decode_block(row.asDict())
        for d, tf, dl in dec.itertuples(index=False):
            got[(row["term"], int(d))] = (int(tf), int(dl))
        # skip metadata is consistent
        u = dec["doc_id"].to_numpy().astype(np.uint64)
        assert u[0] == np.int64(row["first_doc"]).astype(np.uint64)
        assert u[-1] == np.int64(row["last_doc"]).astype(np.uint64)
        assert row["max_freq"] == int(dec["tf"].max())
    assert got == expected


def test_posting_list_stats_match_doc_freq(corpus, cindex):
    from caterpillar_spark.indexing.postinglists import (
        doc_level_postings,
        posting_list_stats,
    )

    expected = {
        r["term"]: r["c"]
        for r in doc_level_postings(corpus)
        .groupBy("term").agg(F.count("*").alias("c")).collect()
    }
    got = {
        r["term"]: r["doc_freq"]
        for r in posting_list_stats(cindex.lists).collect()
    }
    assert got == expected


# ----------------------------------------------------------------- WAND

def _brute_force_bm25(corpus, cindex, terms, k, conjunctive=False):
    """Independent doc-level BM25 oracle in plain DataFrame ops."""
    from caterpillar_spark.indexing.postinglists import doc_level_postings

    docp = doc_level_postings(corpus).where(F.col("term").isin(terms))
    n = float(cindex.n_docs)
    dfreq = {
        r["term"]: r["c"]
        for r in docp.groupBy("term").agg(F.count("*").alias("c")).collect()
    }
    rows = docp.collect()
    scores, hits = {}, {}
    for r in rows:
        idf = math.log(1.0 + (n - dfreq[r["term"]] + 0.5) / (dfreq[r["term"]] + 0.5))
        s = idf * r["tf"] * 2.2 / (
            r["tf"] + 1.2 * (0.25 + 0.75 * r["dl"] / cindex.avgdl)
        )
        scores[r["doc_id"]] = scores.get(r["doc_id"], 0.0) + s
        hits[r["doc_id"]] = hits.get(r["doc_id"], 0) + 1
    items = [
        (d, s) for d, s in scores.items()
        if not conjunctive or hits[d] == len(terms)
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


@pytest.mark.parametrize("terms", [["the"], ["the", "spark"], ["spark", "table", "index"]])
def test_wand_rank_identical_to_brute_force(corpus, cindex, terms):
    from caterpillar_spark.query.wand import wand_topk

    got = [(r["doc_id"], r["score"]) for r in wand_topk(cindex, terms, k=15).collect()]
    exp = _brute_force_bm25(corpus, cindex, terms, k=15)
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp])


def test_wand_conjunctive(corpus, cindex):
    from caterpillar_spark.query.wand import wand_topk

    terms = ["the", "spark"]
    got = [(r["doc_id"], r["score"]) for r in
           wand_topk(cindex, terms, k=10, mode="and").collect()]
    exp = _brute_force_bm25(corpus, cindex, terms, k=10, conjunctive=True)
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp])


def test_wand_missing_term(cindex):
    from caterpillar_spark.query.wand import wand_topk

    assert wand_topk(cindex, ["zzznoterm"], k=5).count() == 0
    assert wand_topk(cindex, ["the", "zzznoterm"], k=5, mode="and").count() == 0


def test_persist_and_load_roundtrip(spark, corpus, cindex, tmp_path):
    from caterpillar_spark.query.wand import CompressedIndex, wand_topk

    path = str(tmp_path / "cindex")
    built = CompressedIndex.build(
        corpus, num_buckets=8, block_bits=3, path=path
    )
    loaded = CompressedIndex.load(spark, path)
    assert loaded.n_docs == cindex.n_docs
    assert loaded.num_buckets == 8
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk(loaded, ["spark", "table"], k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         wand_topk(cindex, ["spark", "table"], k=10).collect()]
    assert a == b
    # partition-pruned layout exists
    import os
    assert any(d.startswith("term_bucket=") for d in os.listdir(path))


def test_meta_write_failure_keeps_previous_file(spark, corpus, tmp_path, monkeypatch):
    """A failure in the middle of writing ``_meta.json`` never leaves a
    torn file: a rebuild that fails there leaves none for ``load`` to
    trip on, and a failed rewrite keeps the previous file whole."""
    import json
    import os

    from caterpillar_spark.query.wand import CompressedIndex

    def torn_dump(obj, fh, **kw):
        fh.write('{"n_docs": ')
        raise OSError("disk full")

    path = str(tmp_path / "cindex")
    meta = os.path.join(path, "_meta.json")
    CompressedIndex.build(corpus, num_buckets=8, block_bits=3, path=path)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError):
            CompressedIndex.build(corpus, num_buckets=8, block_bits=3, path=path)
    assert not os.path.exists(meta)

    from caterpillar_spark.indexing.build import atomic_write_json

    built = CompressedIndex.build(corpus, num_buckets=8, block_bits=3, path=path)
    before = open(meta).read()
    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError):
            atomic_write_json(meta, {"n_docs": 0, "avgdl": 1.0})
    assert open(meta).read() == before
    assert not [f for f in os.listdir(path) if f.endswith(".tmp")]
    loaded = CompressedIndex.load(spark, path)
    assert (loaded.n_docs, loaded.avgdl) == (built.n_docs, built.avgdl)


def test_wand_must_not(corpus, cindex):
    from caterpillar_spark.query.wand import wand_topk
    from caterpillar_spark.indexing.postinglists import doc_level_postings

    got = [(r["doc_id"], r["score"]) for r in
           wand_topk(cindex, ["the"], k=20, must_not=["spark"]).collect()]
    # brute force with exclusion
    excluded = {
        r["doc_id"]
        for r in doc_level_postings(corpus).where(F.col("term") == "spark")
        .select("doc_id").collect()
    }
    exp = [(d, s) for d, s in _brute_force_bm25(corpus, cindex, ["the"], k=10**9)
           if d not in excluded][:20]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert [s for _, s in got] == pytest.approx([s for _, s in exp])
    # every excluded doc is absent
    assert not ({d for d, _ in got} & excluded)


def test_wand_prune_exact_and_metrics(corpus, cindex):
    """prune=False (exhaustive) and prune=True return the identical
    top-k — the block-max skip is exact, not approximate — and the
    metrics accumulators report the block accounting.  The score/bound
    float association is part of this contract: a skipped group's bound
    is >= every contained doc's score bit-exactly (wand.py
    score_partition comment; regression caught by
    scripts/blockmax_bench.py on a tie-heavy corpus)."""
    from caterpillar_spark.query.wand import wand_topk

    terms = ["the", "spark"]
    m_p, m_e = {}, {}
    pruned = [
        (r["doc_id"], r["score"])
        for r in wand_topk(cindex, terms, k=15, metrics=m_p).collect()
    ]
    exhaustive = [
        (r["doc_id"], r["score"])
        for r in wand_topk(
            cindex, terms, k=15, prune=False, metrics=m_e
        ).collect()
    ]
    assert pruned == exhaustive
    # exhaustive mode never skips and scores every group
    assert m_e["blocks_skipped"].value == 0
    assert m_e["blocks_scored"].value > 0
    # pruned mode accounts for every group one way or the other
    assert (
        m_p["blocks_skipped"].value + m_p["blocks_scored"].value
        == m_e["blocks_scored"].value
    )
