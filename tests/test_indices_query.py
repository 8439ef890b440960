"""ES 1.x ``indices`` query (plans/query_index.py indices_query): per-index
query routing over unmerged generations with dfs_query_then_fetch stats —
DuckDB-oracle parity, equivalence to plain alias search when every index is
targeted, no_match_query = all/none/scored forms, refusal surface."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from flume_elasticsearch_2_spark.plans.build_index import build_index
from flume_elasticsearch_2_spark.plans.query_index import (
    indices_query,
    indices_query_sql,
    search_generations,
)

Q = "dup batch scan"
Q2 = "merge vector"


@pytest.fixture(scope="module")
def gens(spark, documents):
    n = documents.count()
    half, space = n // 2, n
    base = tempfile.mkdtemp(prefix="idxq_")
    d1, d2 = os.path.join(base, "g1"), os.path.join(base, "g2")
    build_index(spark, documents.where(f"doc_id < {half}"), d1, n_shards=4, id_space=space)
    build_index(spark, documents.where(f"doc_id >= {half}"), d2, n_shards=4, id_space=space)
    return [d1, d2], half


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con


@pytest.mark.parametrize(
    "query,mode,no_match",
    [
        pytest.param(Q, "or", "none", id="none"),
        pytest.param(Q, "or", "all", id="all"),
        pytest.param(Q, "or", Q2, id=Q2),
        # AND with a repeated term: the conjunction is over distinct terms
        pytest.param("dup dup batch", "and", "none", id="dup dup batch-and-none"),
        pytest.param("dup batch", "and", "none", id="dup batch-and-none"),
        pytest.param("dup dup batch", "and", "all", id="dup dup batch-and-all"),
    ],
)
def test_matches_duckdb(spark, gens, duck, query, mode, no_match):
    (dirs, half) = gens
    got = [
        tuple(r)
        for r in indices_query(
            spark, dirs, ["g1", "g2"], ["g1"], query, no_match_query=no_match, k=10,
            mode=mode,
        ).collect()
    ]
    want = duck.execute(
        indices_query_sql(f"doc_id < {half}", query, no_match_query=no_match, k=10, mode=mode)
    ).fetchall()
    assert got == [tuple(r) for r in want] and got


def test_all_targets_equals_alias_search(spark, gens):
    (dirs, _) = gens
    a = [
        tuple(r)
        for r in indices_query(
            spark, dirs, ["g1", "g2"], ["g1", "g2"], Q, no_match_query="none", k=10
        ).collect()
    ]
    b = [tuple(r) for r in search_generations(spark, dirs, Q, k=10).collect()]
    assert a == b and a


def test_none_excludes_other_generation(spark, gens):
    (dirs, half) = gens
    hits = indices_query(
        spark, dirs, ["g1", "g2"], ["g2"], Q, no_match_query="none", k=50
    ).collect()
    assert hits and all(r["doc_id"] >= half for r in hits)


def test_match_all_floods_constant_scores(spark, gens):
    (dirs, half) = gens
    rows = indices_query(
        spark, dirs, ["g1", "g2"], ["g1"], "zzzznotaterm", no_match_query="all", k=10
    ).collect()
    # target query misses entirely -> page is the other index's match_all
    assert [r["doc_id"] for r in rows] == list(range(half, half + 10))
    assert all(r["score"] == 1.0 for r in rows)


def test_refusals(spark, gens):
    (dirs, _) = gens
    with pytest.raises(ValueError, match="unknown indices"):
        indices_query(spark, dirs, ["g1", "g2"], ["g3"], Q)
    with pytest.raises(ValueError, match=">= 1 target"):
        indices_query(spark, dirs, ["g1", "g2"], [], Q)
    with pytest.raises(ValueError, match="unique"):
        indices_query(spark, dirs, ["g1", "g1"], ["g1"], Q)
    with pytest.raises(ValueError, match="one entry per index"):
        indices_query(spark, dirs, ["g1"], ["g1"], Q)
