"""Spark job counts of the warm query paths on a persisted index.

Each serving call is timed largely by how many Spark jobs it launches
(per-job scheduling, not scan work, dominates at this scale), so a
stray ``.count()`` / ``.collect()`` in a query path is a regression
even when the answer stays right.  These pins make such a job show up
here first.  Counts are taken with a job group and
``statusTracker().getJobIdsForGroup``; the first call of each operation
warms the handle's statistics caches and is not counted."""

import uuid

import pytest

from caterpillar_spark.framing import build_frames
from caterpillar_spark.indexing.build import build_index
from caterpillar_spark.query import search, search_many
from caterpillar_spark.query.wand import wand_topk

# Jobs per warm call under the session fixture (local[4], 8 shuffle
# partitions); a higher count is a new Spark job on a serving path.
WARM_JOBS = {
    "wand_topk": 2,
    "search_bm25_doc": 7,
    "search_many": 6,
}


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def persisted(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path_factory.mktemp("jobpin") / "idx")
    idx = build_index(
        build_frames(docs, metadata_cols=["lang"]), path, num_buckets=8
    )
    return idx, idx.compressed()


CALLS = {
    "wand_topk": lambda idx, ci: wand_topk(
        ci, ["spark", "table"], k=10
    ).collect(),
    "search_bm25_doc": lambda idx, ci: search(
        idx, k=10, should=["spark", "table"], unit="document", scorer="bm25_doc"
    ).collect(),
    "search_many": lambda idx, ci: search_many(
        idx,
        {"a": {"should": ["spark", "table"]}, "b": {"must": ["join"]}},
        k=10, unit="document", scorer="bm25",
    ).collect(),
}


@pytest.mark.parametrize("op", sorted(WARM_JOBS))
def test_warm_query_job_count(spark, persisted, op):
    call = CALLS[op]
    call(*persisted)  # warm the statistics caches
    assert _jobs(spark, lambda: call(*persisted)) == WARM_JOBS[op]
