"""run_pipeline end to end on kg_small (its two concurrent branches,
their job-group attribution and failure handling) and the read_pages
split rule for the Arrow-UDF stages."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ("triples", "nodes", "edges", "chunks")

# glom a pages scan on local[4]: one process holds one SparkContext, and
# the test session runs local[8]
_SPLITS_SCRIPT = """
import json, sys
from code_indexer_spark.plans.pipeline import read_pages
from code_indexer_spark.session import get_spark
spark = get_spark("splits", master="local[4]")
try:
    print(json.dumps([
        spark.read.parquet(sys.argv[1] + "/pages.parquet")
        .rdd.glom().map(len).collect(),
        read_pages(spark, sys.argv[1], for_udf=True)
        .rdd.glom().map(len).collect()]))
finally:
    spark.stop()
"""


def test_one_row_group_pages_split_for_udf(kg_small):
    meta = pq.ParquetFile(f"{kg_small}/pages.parquet").metadata
    assert meta.num_row_groups == 1
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _SPLITS_SCRIPT, kg_small], env=env,
        check=True, capture_output=True, text=True, timeout=600)
    scan, for_udf = json.loads(out.stdout.strip().splitlines()[-1])
    # the plain scan has several splits but only one holds rows
    assert len(scan) >= 2 and sum(n > 0 for n in scan) == 1
    assert sum(for_udf) == meta.num_rows
    assert sum(n > 0 for n in for_udf) >= 2


def test_read_pages_for_udf_noop_on_enough_splits(spark, kg_small, tmp_path):
    from code_indexer_spark.plans.pipeline import read_pages

    want = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{kg_small}/pages.parquet").repartition(want) \
        .write.parquet(str(tmp_path / "pages.parquet"))
    df = read_pages(spark, str(tmp_path), for_udf=True)
    assert "Exchange" not in \
        df._jdf.queryExecution().executedPlan().toString()
    assert sum(len(p) > 0 for p in df.rdd.glom().collect()) >= want // 2


def test_run_pipeline_kg_small(spark, kg_small, tmp_path):
    from code_indexer_spark.plans.pipeline import (
        build_canonical_triples, build_chunks, run_pipeline)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "run_pipeline")
    try:
        counts = run_pipeline(spark, kg_small, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    # every job of the call, the chunk-write jobs of the side thread
    # included, ran under the caller's job group: none is ungrouped
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert tracker.getJobIdsForGroup("g")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped

    out = {t: spark.read.parquet(str(tmp_path / f"{t}.parquet"))
           for t in TABLES}
    assert counts == {t: df.count() for t, df in out.items()}
    assert min(counts.values()) > 0

    want = build_canonical_triples(spark, kg_small)
    assert Counter(out["triples"].select(*want.columns).collect()) == \
        Counter(want.collect())
    assert {r.point_id for r in out["chunks"].select("point_id").collect()} \
        == {r.point_id for r in
            build_chunks(spark, kg_small).select("point_id").collect()}


@pytest.mark.parametrize("failing,finished", [
    ("_write_chunks", "edges"),
    ("build_edges", "chunks"),
])
def test_run_pipeline_branch_failure(spark, kg_small, tmp_path, monkeypatch,
                                     failing, finished):
    """A failing branch is re-raised only after the other branch has
    finished its writes, and no persisted RDD is left behind but the
    session's mapping-cache entry."""
    from code_indexer_spark.plans import pipeline

    def boom(*args, **kwargs):
        raise RuntimeError(f"{failing} failed")

    sc = spark.sparkContext
    pipeline.cached_canonical_mapping(spark, kg_small)
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    monkeypatch.setattr(pipeline, failing, boom)
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        pipeline.run_pipeline(spark, kg_small, str(tmp_path))
    assert (tmp_path / f"{finished}.parquet" / "_SUCCESS").exists()
    assert set(sc._jsc.getPersistentRDDs().keys()) <= persisted
