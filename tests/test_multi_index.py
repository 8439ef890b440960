"""ES multi-index (alias) search across unmerged generations
(dfs_query_then_fetch): rank/score-identical to the merged index, the
declarative engine over the union corpus, and the DuckDB oracle.

Reference analog: the ES index-alias / multi-index query surface behind the
sink (ElasticsearchSink.java:54); dfs_query_then_fetch per the ES 1.x
search-type docs."""

from __future__ import annotations

import duckdb
import pytest

from flume_elasticsearch_2_spark.operators.topk import bm25_topk, bm25_topk_sql
from flume_elasticsearch_2_spark.plans.build_index import build_index
from flume_elasticsearch_2_spark.plans.merge import merge_indexes
from flume_elasticsearch_2_spark.plans.query_index import (
    IndexSearcher,
    search_generations,
)

QUERIES = [("dup batch scan", "or"), ("join filter window", "and"), ("zzzznotaterm", "or")]


@pytest.fixture(scope="module")
def generations(spark, documents, tmp_path_factory):
    """Two generations over disjoint doc-id halves, shared id space."""
    d1 = str(tmp_path_factory.mktemp("gen") / "g1")
    d2 = str(tmp_path_factory.mktemp("gen") / "g2")
    build_index(spark, documents.where("doc_id < 250"), d1, n_shards=4, id_space=500)
    build_index(spark, documents.where("doc_id >= 250"), d2, n_shards=4, id_space=500)
    return [d1, d2]


@pytest.mark.parametrize("query,mode", QUERIES)
def test_generations_equal_declarative_union(spark, documents, generations, query, mode):
    got = [tuple(r) for r in search_generations(spark, generations, query, k=10, mode=mode).collect()]
    want = [tuple(r) for r in bm25_topk(documents, query, k=10, mode=mode).collect()]
    assert got == want


@pytest.mark.parametrize("query,mode", QUERIES[:2])
def test_generations_equal_merged_index(spark, generations, tmp_path_factory, query, mode):
    merged = str(tmp_path_factory.mktemp("gen") / "merged")
    merge_indexes(spark, generations, merged)
    got = [tuple(r) for r in search_generations(spark, generations, query, k=10, mode=mode).collect()]
    want = [tuple(r) for r in IndexSearcher(spark, merged).search(query, k=10, mode=mode).collect()]
    assert got == want and (got or query.startswith("zzzz"))


def test_generations_match_duckdb(spark, sf_dir, generations):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    got = [tuple(r) for r in search_generations(spark, generations, "dup batch scan", k=10).collect()]
    want = [tuple(r) for r in con.execute(bm25_topk_sql("dup batch scan", k=10)).fetchall()]
    assert got == want and got


def test_generations_dfs_pass_starts_no_job(spark, generations):
    """The dfs pass reads postings metadata on the driver, so a query over
    two generations runs exactly one Spark job: the scatter."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("gen-jobs", "search_generations")
        got = search_generations(spark, generations, "dup batch scan", k=10).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("gen-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got and len(jobs) == 1


def test_single_generation_degenerates_to_plain_search(spark, generations):
    got = [tuple(r) for r in search_generations(spark, generations[:1], "dup batch", k=5).collect()]
    want = [
        tuple(r) for r in IndexSearcher(spark, generations[0]).search("dup batch", k=5).collect()
    ]
    assert got == want


def test_three_generations_and_empty_slice(spark, documents, tmp_path_factory):
    """Three uneven generations (one holding no docs for the rare term)
    still reproduce the union-corpus ranking exactly."""
    dirs = []
    bounds = [(0, 100), (100, 400), (400, 500)]
    for i, (lo, hi) in enumerate(bounds):
        d = str(tmp_path_factory.mktemp("gen3") / f"g{i}")
        build_index(
            spark, documents.where(f"doc_id >= {lo} AND doc_id < {hi}"), d,
            n_shards=2, id_space=500,
        )
        dirs.append(d)
    got = [tuple(r) for r in search_generations(spark, dirs, "dup batch scan", k=10).collect()]
    want = [tuple(r) for r in bm25_topk(documents, "dup batch scan", k=10).collect()]
    assert got == want and got


# -- indices_boost (round-3 continuation) ----------------------------------------


def test_indices_boost_matches_multiplier_oracle(spark, sf_dir, generations):
    """ES indices_boost: every hit's UNROUNDED score × its index's boost
    before the global merge — oracle = whole-corpus BM25 with a membership
    CASE multiplier (the generations split is doc_id < 250)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    got = [
        tuple(r)
        for r in search_generations(
            spark, generations, "dup batch scan", k=10, boosts=[2.0, 0.5]
        ).collect()
    ]
    want = con.execute(
        bm25_topk_sql(
            "dup batch scan", k=10,
            score_multiplier_sql="CASE WHEN doc_id < 250 THEN 2.0 ELSE 0.5 END",
        )
    ).fetchall()
    assert got == want and got


def test_indices_boost_identity_and_validation(spark, generations):
    plain = [tuple(r) for r in search_generations(spark, generations, "dup batch", k=10).collect()]
    unit = [
        tuple(r)
        for r in search_generations(
            spark, generations, "dup batch", k=10, boosts=[1.0, 1.0]
        ).collect()
    ]
    assert plain == unit
    with pytest.raises(ValueError, match="one entry per index"):
        search_generations(spark, generations, "dup", boosts=[1.0])
    with pytest.raises(ValueError, match="> 0"):
        search_generations(spark, generations, "dup", boosts=[1.0, -2.0])
