"""Incremental (Structured Streaming) index maintenance: per-batch
revisions, exact statistics merge-on-read, idempotent replay,
compaction."""

import os

import pytest
from pyspark.sql import functions as F

from caterpillar_spark.framing import build_frames
from caterpillar_spark.query import MemoryIndex, search
from caterpillar_spark.sources import ingest_webtext, synthetic_webtext
from caterpillar_spark.streaming import (
    append_batch,
    compact_statistics,
    start_incremental_index,
)


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    land = str(root / "landing")
    # two deterministic file-batches: ONE 300-doc corpus split by page
    # ordinal (generation depends on the corpus size since link targets
    # are drawn inside it, so batches must come from the same corpus)
    full = synthetic_webtext(spark, 300, seed=21, partitions=1)
    ordinal = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")
    a = full.where(ordinal < 150)
    b = full.where(ordinal >= 150)
    a.coalesce(1).write.mode("append").parquet(land)
    b.coalesce(1).write.mode("append").parquet(land)
    return root, land


def test_incremental_stream_builds_index(spark, landing):
    root, land = landing
    idx_path = str(root / "idx")
    ckpt = str(root / "ckpt")

    q = start_incremental_index(
        spark, land, idx_path, ckpt,
        num_buckets=4, block_bits=3, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    from caterpillar_spark.indexing.build import InvertedIndex

    idx = InvertedIndex(spark, idx_path)
    m = idx.manifest
    assert m["revision"] == 2
    assert len(m["batches"]) == 2
    assert m["n_docs"] == 300
    assert idx.postings().select("doc_id").distinct().count() == 300

    # TF-IDF scoring has no avgdl dependence: the streaming-built index
    # must score identically to a one-shot in-memory index of the full
    # corpus (statistics partials merge exactly on read).
    full = ingest_webtext(synthetic_webtext(spark, 300, seed=21))
    mem = MemoryIndex(build_frames(full, metadata_cols=["lang"]))
    got = search(idx, k=10, unit="document", should=["the", "data"]).collect()
    want = search(mem, k=10, unit="document", should=["the", "data"]).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]

    # WAND over the incrementally-appended compressed lists covers the
    # whole corpus and is internally consistent (bounds never skip a
    # true top-k doc even with multiple block rows per term).
    from caterpillar_spark.query.wand import wand_topk

    cidx = idx.compressed()
    top = wand_topk(cidx, ["the", "data"], k=10).collect()
    assert len(top) == 10
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)

    # replaying an already-applied batch id is a no-op
    frames = build_frames(full.limit(5), metadata_cols=["lang"])
    rev_before = idx.manifest["revision"]
    append_batch(frames, idx_path, batch_id=0)
    assert idx.manifest["revision"] == rev_before

    # compaction folds stats partials without changing results
    n_rows_before = idx.term_stats().count()
    compact_statistics(idx)
    assert idx.term_stats().count() < n_rows_before
    got2 = search(idx, k=10, unit="document", should=["the", "data"]).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got2] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    assert os.path.exists(os.path.join(idx_path, "manifest.json"))

    # --- doc ledger + re-ingest guard -------------------------------
    # The docs table is the membership ledger: one row per doc.
    assert idx.docs().count() == 300

    # Re-appending already-indexed documents (same urls => same
    # doc_ids) without a batch_id must NOT duplicate postings:
    # on_existing='skip' (default) filters them out and the index is
    # byte-for-byte unchanged in counts/statistics.
    reingest = build_frames(full.limit(20), metadata_cols=["lang"])
    n_postings_before = idx.postings().count()
    ndocs_before = idx.manifest["n_docs"]
    append_batch(reingest, idx_path)
    assert idx.postings().count() == n_postings_before
    assert idx.manifest["n_docs"] == ndocs_before
    assert idx.docs().count() == 300

    # on_existing='error' surfaces the clash instead
    with pytest.raises(ValueError, match="already indexed"):
        append_batch(reingest, idx_path, on_existing="error")


def test_first_seen_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState streaming dedup: across micro-batches only
    the first occurrence of each fingerprint is emitted."""
    from caterpillar_spark.streaming import first_seen

    land = str(tmp_path / "land")
    os.makedirs(land)
    # batch A: fingerprints a,b ; batch B: b (dup), c
    a = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, fp string"
    )
    b = spark.createDataFrame(
        [(3, "b"), (4, "c")], "doc_id long, fp string"
    )
    a.coalesce(1).write.mode("append").parquet(land)
    b.coalesce(1).write.mode("append").parquet(land)

    stream = (
        spark.readStream.schema("doc_id long, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = (
        first_seen(stream, "fp")
        .writeStream.format("memory")
        .queryName("first_seen_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = {
        (r["doc_id"], r["fp"])
        for r in spark.sql("SELECT * FROM first_seen_sink").collect()
    }
    # doc 3 (duplicate fingerprint 'b') must be dropped
    assert {r[1] for r in rows} == {"a", "b", "c"}
    assert (3, "b") not in rows
    assert len(rows) == 3


def test_first_seen_ttl_rearmed_on_duplicates():
    """Spark clears a key's GroupState timeout on every invocation, so
    the TTL must be re-armed on every non-timeout call — including
    duplicate arrivals that emit nothing.  (The r2 shape armed only on
    first sighting; one duplicate then cancelled the TTL forever.)"""
    import pandas as pd

    from caterpillar_spark.streaming.stateful import _make_first_seen_fn

    class StubState:
        def __init__(self):
            self.hasTimedOut = False
            self.exists = False
            self._v = None
            self.timeout_set = 0
            self.removed = False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

        def setTimeoutDuration(self, ms):
            self.timeout_set += 1
            self.last_timeout_ms = ms

        def remove(self):
            self.removed, self.exists = True, False

    fn = _make_first_seen_fn(ttl_minutes=5)
    st = StubState()
    batch = [pd.DataFrame({"doc_id": [1], "fp": ["a"]})]

    out = list(fn(("a",), iter(batch), st))  # first sighting: emit + arm
    assert len(out) == 1 and st.timeout_set == 1
    assert st.last_timeout_ms == 5 * 60 * 1000

    out = list(fn(("a",), iter(batch), st))  # duplicate: no emit, RE-ARM
    assert out == [] and st.timeout_set == 2

    st.hasTimedOut = True  # TTL expiry drops the state
    assert list(fn(("a",), iter([]), st)) == []
    assert st.removed

    # without a TTL the timeout is never touched
    st2 = StubState()
    list(_make_first_seen_fn(None)(("a",), iter(batch), st2))
    list(_make_first_seen_fn(None)(("a",), iter(batch), st2))
    assert st2.timeout_set == 0


def test_append_backfills_missing_docs_ledger(spark, tmp_path):
    """An index whose docs/ ledger is missing (predates the ledger) must
    not silently pass the duplicate-doc guard: append_batch backfills
    the ledger from postings before probing, so a re-append of the
    original docs is still caught."""
    import shutil

    from caterpillar_spark.indexing.build import build_index

    docs = ingest_webtext(synthetic_webtext(spark, 40, seed=31))
    frames = build_frames(docs, metadata_cols=["lang"]).persist()
    path = str(tmp_path / "legacy_idx")
    idx = build_index(frames, path, num_buckets=4)
    n_postings = idx.postings().count()
    expected_lens = {
        r["doc_id"]: r["dl"] for r in idx.docs().collect()
    }

    # simulate the legacy layout: ledger gone, revision > 0
    shutil.rmtree(os.path.join(path, "docs"))

    # skip-mode re-append of already-indexed docs: the backfilled
    # ledger catches them all — no duplicate postings, ledger restored
    append_batch(frames, path)
    assert idx.postings().count() == n_postings
    restored = {r["doc_id"]: r["dl"] for r in idx.docs().collect()}
    assert restored == expected_lens

    shutil.rmtree(os.path.join(path, "docs"))
    with pytest.raises(ValueError, match="already indexed"):
        append_batch(frames, path, on_existing="error")
    frames.unpersist()


def test_append_keeps_caller_persisted_frames(spark, tmp_path):
    """append_batch persists the frames it reads several times, but
    frames the caller persisted stay persisted afterwards: unpersisting
    them would make the caller's next action run the framing UDF
    again."""
    docs = ingest_webtext(synthetic_webtext(spark, 20, seed=41))
    frames = build_frames(docs, metadata_cols=["lang"])
    path = str(tmp_path / "idx")
    first = frames.where(F.col("doc_id") % 2 == 0).persist()
    first.count()
    append_batch(first, path, num_buckets=4)
    assert first.is_cached
    # a partly duplicate batch: the filtered frames this call persists
    # are released, the caller's stay
    append_batch(frames.persist(), path)
    assert frames.is_cached
    for df in (first, frames):
        df.unpersist()


def test_windowed_event_counts_batch_vs_manual(spark):
    """Event-time tumbling windows on the events table: the windowed
    plan equals a manual date_trunc aggregation (batch path; the same
    plan with a watermark is the streaming state-bounding variant)."""
    from caterpillar_spark.streaming import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum"])
        for r in windowed_event_counts(events, "1 hour").collect()
    }
    manual = {
        (r["ws"], r["event_type"]): (r["n"], r["vs"])
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("vs"))
        .collect()
    }
    assert got == manual and len(got) > 0


def test_retained_handle_sees_appended_statistics(spark, tmp_path):
    """The r3 advisory: engine statistic caches memoize on the index
    handle; after append_batch to the same path, a RETAINED handle must
    re-resolve df/N (caches key on the manifest revision now) instead
    of scoring with stale weights — a term first probed as missing must
    be found once an append introduces it."""
    from caterpillar_spark.indexing.build import build_index
    from caterpillar_spark.query import filter_frames
    from caterpillar_spark.streaming.incremental import append_batch

    docs = spark.createDataFrame(
        [(1, "plain words only here", "en"), (2, "more plain words", "en")],
        "doc_id long, text string, lang string",
    )
    idx = build_index(
        build_frames(docs, metadata_cols=["lang"]),
        str(tmp_path / "idx"), num_buckets=4,
    )
    # probe a not-yet-indexed term: cached as missing for this revision
    assert filter_frames(idx, should=["zzznew"], unit="document").count() == 0

    extra = spark.createDataFrame(
        [(3, "zzznew term zzznew arrives", "en")],
        "doc_id long, text string, lang string",
    )
    append_batch(build_frames(extra, metadata_cols=["lang"]), str(tmp_path / "idx"))

    # SAME handle object: revision moved, cache must invalidate
    rows = filter_frames(idx, should=["zzznew"], unit="document").collect()
    assert [r["doc_id"] for r in rows] == [3]


def test_append_frames_each_batch_once(spark, tmp_path):
    """On an index that already has a docs ledger, append_batch runs the
    framing UDF once per batch: the duplicate probe reads the persisted
    frames instead of framing the batch a second time."""
    from caterpillar_spark.analysis.analyser import DefaultAnalyser

    calls = spark.sparkContext.accumulator(0)

    class CountingAnalyser(DefaultAnalyser):
        def analyse(self, value):
            calls.add(1)
            return super().analyse(value)

    full = synthetic_webtext(spark, 60, seed=43, partitions=2)
    ordinal = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")

    def frames(cond):
        return build_frames(
            ingest_webtext(full.where(cond)), metadata_cols=["lang"],
            analyser=CountingAnalyser(),
        )

    path = str(tmp_path / "idx")
    append_batch(frames(ordinal < 30), path, num_buckets=4)
    assert os.path.isdir(os.path.join(path, "docs"))

    second = frames(ordinal >= 30)
    calls.value = 0
    second.count()  # one framing pass: one analyse() call per sentence
    sentences = calls.value
    calls.value = 0
    idx = append_batch(second, path, num_buckets=4)
    assert sentences > 0 and calls.value == sentences
    assert "total_tokens" not in idx.manifest


def test_retained_handle_answers_like_a_fresh_one(spark, tmp_path):
    """A handle kept across writes to its path (its table schemas and
    statistics memoized on the first queries) answers exactly like a
    handle opened after each write: appends, the statistics fold and
    compaction, which swaps every table directory."""
    from caterpillar_spark.indexing.build import InvertedIndex, optimize_index
    from caterpillar_spark.query import execute_query, search_many
    from caterpillar_spark.query.wand import wand_topk

    full = synthetic_webtext(spark, 240, seed=23, partitions=1)
    ordinal = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")
    path = str(tmp_path / "idx")

    def append(lo, hi):
        docs = ingest_webtext(full.where((ordinal >= lo) & (ordinal < hi)))
        append_batch(build_frames(docs), path, num_buckets=4, block_bits=3)

    def answers(idx):
        def hits(df):
            return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]

        batch = search_many(
            idx, {"a": {"should": ["the", "data"]}, "b": {"must": ["data"]}},
            k=5, unit="document", scorer="bm25",
        ).collect()
        return {
            "search": hits(search(
                idx, k=10, unit="document", scorer="bm25_doc",
                should=["the", "data"],
            )),
            "parser": hits(execute_query(
                idx, "+data the~1 -zzznotaterm", k=10, scorer="bm25_doc"
            )),
            "many": sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 9))
                for r in batch
            ),
            "wand": hits(wand_topk(idx.compressed(), ["the", "data"], k=10)),
        }

    append(0, 80)
    kept = InvertedIndex(spark, path)
    first = answers(kept)
    steps = [
        lambda: append(80, 160),
        lambda: compact_statistics(InvertedIndex(spark, path)),
        lambda: append(160, 240),
        lambda: optimize_index(InvertedIndex(spark, path)),
    ]
    for step in steps:
        step()
        assert answers(kept) == answers(InvertedIndex(spark, path))
    assert answers(kept) != first
