"""The benchmark's layer tracer (perfbench/spans.py) wraps serving entry
points by name: ``IndexSearcher._query_meta``, ``IndexSearcher.
_scatter_direct`` and the module functions ``_read_shard_tables`` and
``_score_shard``. A renamed or bypassed hook must fail here, not in a
traced benchmark run."""

from __future__ import annotations

import pytest

from flume_elasticsearch_2_spark.plans import query_index
from flume_elasticsearch_2_spark.plans.build_index import build_index
from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher


@pytest.fixture(scope="module")
def searcher(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hooks") / "idx")
    build_index(spark, documents, d, n_shards=4)
    return IndexSearcher(spark, d)


def test_tracer_records_serving_layers(spark, searcher):
    from perfbench.spans import Tracer

    t = Tracer(spark)
    originals = (query_index._read_shard_tables, query_index._score_shard)
    t.install()
    try:
        with t.op("local-0", "search_local", spark_jobs=False) as local:
            got = searcher.search_local("dup batch scan", k=10)
        with t.op("scatter-0", "search") as scatter:
            rows = searcher.search("dup batch scan", k=10).collect()
    finally:
        t.uninstall()
    assert (query_index._read_shard_tables, query_index._score_shard) == originals
    assert list(got["doc_id"]) == [r["doc_id"] for r in rows] and len(rows) == 10
    t.finish()
    meta = t.children(local, "query_index.meta")
    reads = t.children(local, "query_index.read")
    scores = t.children(local, "query_index.score")
    assert len(meta) == 1 and reads and len(reads) == len(scores)
    assert all(s.attrs["postings_rows"] > 0 for s in reads)
    assert sum(s.attrs["blocks_total"] for s in scores) > 0
    assert t.children(scatter, "query_index.meta")
    assert len(t.children(scatter, "query_index.scatter_plan")) == 1
    assert t.jobs("scatter-0")["jobs"] == 1
