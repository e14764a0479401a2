"""Spark job counts and plan shapes of the query paths on a persisted
index.

Each serving call is timed largely by how many Spark jobs it launches,
so a stray ``.count()`` / ``.collect()`` in a query path is a
regression even when the answer stays right.  These pins make such a
job show up here first.  Counts are taken with a job group and
``statusTracker().getJobIdsForGroup``; the first call of each operation
warms the handle's caches (table schemas, statistics) and is not
counted.  A warm DataFrame-engine query runs only the jobs that scan
and score: no parquet schema inference and no statistics shuffle, and
its plan reads no Python-built RDD."""

import uuid

import pytest

from caterpillar_spark.framing import build_frames
from caterpillar_spark.indexing.build import build_index
from caterpillar_spark.query import execute_query, search, search_many
from caterpillar_spark.query.wand import wand_topk

# Jobs per warm call under the session fixture (local[4], 8 shuffle
# partitions); a higher count is a new Spark job on a serving path.
WARM_JOBS = {
    "wand_topk": 2,
    "search_bm25_doc": 5,
    "search_many": 5,
    "execute_query": 7,
}
# A WAND query on a term the handle has not seen: one statistics job
# (block rows summed on the driver) before the two scoring jobs.
FIRST_SIGHT_WAND_JOBS = 3

PARSED = '+spark tabel~1 joi* -hash "spark sql" lang:en'


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


QUERIES = {
    "wand_topk": lambda idx, ci: wand_topk(ci, ["spark", "table"], k=10),
    "search_bm25_doc": lambda idx, ci: search(
        idx, k=10, should=["spark", "table"], unit="document", scorer="bm25_doc"
    ),
    "search_many": lambda idx, ci: search_many(
        idx,
        {"a": {"should": ["spark", "table"]}, "b": {"must": ["join"]}},
        k=10, unit="document", scorer="bm25",
    ),
    "execute_query": lambda idx, ci: execute_query(
        idx, PARSED, k=10, scorer="bm25_doc"
    ),
}


@pytest.mark.parametrize("op", sorted(WARM_JOBS))
def test_warm_query_job_count(spark, persisted, op):
    def call():
        QUERIES[op](*persisted).collect()

    call()  # warm the handle's caches
    assert _jobs(spark, call) == WARM_JOBS[op]


def test_first_sight_wand_job_count(spark, persisted):
    idx, _ = persisted
    ci = idx.compressed()  # a handle whose statistics memo is empty
    assert _jobs(
        spark, lambda: wand_topk(ci, ["query", "data"], k=10).collect()
    ) == FIRST_SIGHT_WAND_JOBS


@pytest.mark.parametrize("op", ["execute_query", "search_bm25_doc", "search_many"])
def test_query_plan_reads_no_python_rdd(persisted, op):
    """The broadcast term relation is a JVM ``LocalTableScan``; no node
    of the plan is an RDD built in Python or evaluates Python, so no
    Python worker takes part in the query."""
    qe = QUERIES[op](*persisted)._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    assert "LogicalRDD" not in logical
    for node in ("ExistingRDD", "EvalPython", "PythonUDF"):
        assert node not in physical, node
    assert "LocalTableScan" in physical
