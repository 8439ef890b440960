"""ES sort-by-field + from/size paging (operators/sorting.py, serving
``IndexSearcher.search_sorted`` / ``search(from_=...)``) — declarative vs
DuckDB, serving vs declarative, page slicing invariants."""

from __future__ import annotations

import os

import duckdb
import pytest

from flume_elasticsearch_2_spark.operators.sorting import (
    MAX_RESULT_WINDOW,
    match_sorted,
    match_sorted_sql,
)

CASES = [
    ("dup batch scan", "or", [("n_chars", "desc")], 10, 0),
    ("dup batch scan", "or", [("n_chars", "asc")], 10, 10),  # page 2
    ("join filter window", "and", [("n_chars", "desc")], 5, 5),
    (None, "or", [("source", "asc"), ("n_chars", "desc")], 10, 20),  # match_all, multi-field
    ("zzzznotaterm", "or", [("n_chars", "desc")], 10, 0),  # empty match set
]


def _duck(sf_dir, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con.sql(sql).fetchall()


@pytest.mark.parametrize("query,mode,sort_by,size,from_", CASES)
def test_match_sorted_matches_duckdb(documents, sf_dir, query, mode, sort_by, size, from_):
    got = [
        tuple(r)
        for r in match_sorted(documents, query, sort_by, size=size, from_=from_, mode=mode).collect()
    ]
    want = _duck(sf_dir, match_sorted_sql(query, sort_by, size=size, from_=from_, mode=mode))
    assert got == want  # ordered compare: paging must be exact, not set-equal


def test_match_sorted_pages_partition_the_list(documents):
    """Consecutive pages are disjoint and concatenate to the full prefix."""
    args = ("dup batch scan", [("n_chars", "desc")])
    full = [tuple(r) for r in match_sorted(documents, args[0], args[1], size=30).collect()]
    pages = [
        tuple(r)
        for f in (0, 10, 20)
        for r in match_sorted(documents, args[0], args[1], size=10, from_=f).collect()
    ]
    assert pages == full


def test_match_sorted_plan_is_single_take_ordered(documents):
    """orderBy+offset+limit must compile to ONE TakeOrderedAndProject
    (per-partition heaps + driver merge) — no global sort Exchange."""
    plan = match_sorted(
        documents, "dup batch scan", [("n_chars", "desc")], size=10, from_=10
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "offset=10" in plan
    assert "rangepartitioning" not in plan.lower()


def test_max_result_window_enforced(documents):
    with pytest.raises(ValueError, match="max_result_window"):
        match_sorted(documents, None, [("n_chars", "desc")], size=1, from_=MAX_RESULT_WINDOW)


# -- serving path ------------------------------------------------------------


@pytest.fixture(scope="module")
def sort_searcher(spark, documents, tmp_path_factory):
    from flume_elasticsearch_2_spark.plans.build_index import build_segments_partial
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    d = os.path.join(str(tmp_path_factory.mktemp("sort_idx")), "idx")
    build_segments_partial(
        spark,
        documents,
        d,
        n_shards=4,
        orig_ids=documents.select("doc_id", "source", "n_chars"),
    )
    return IndexSearcher(spark, d)


@pytest.mark.parametrize("query,mode,sort_by,size,from_", CASES)
def test_serving_sorted_identical(sort_searcher, documents, query, mode, sort_by, size, from_):
    got = [
        tuple(r)
        for r in sort_searcher.search_sorted(query, sort_by, size=size, from_=from_, mode=mode).collect()
    ]
    want = [
        tuple(r)
        for r in match_sorted(documents, query, sort_by, size=size, from_=from_, mode=mode).collect()
    ]
    assert got == want


def test_serving_scored_paging_slices_full_ranking(sort_searcher):
    """search(k, from_) == rows [from_, from_+k) of the full ranking."""
    full = sort_searcher.search("dup batch scan", k=30).collect()
    page = sort_searcher.search("dup batch scan", k=10, from_=10).collect()
    assert [tuple(r) for r in page] == [tuple(r) for r in full[10:20]]


def test_serving_scored_paging_beyond_results_is_empty(sort_searcher):
    assert sort_searcher.search("dup", k=10, from_=5000).count() == 0


# -- search_after keyset paging ----------------------------------------------


def test_search_after_equals_offset_paging(documents, sf_dir):
    """Walking pages by keyset cursor == walking by offset (deterministic
    total order), and the cursor oracle matches DuckDB."""
    sort_by = [("source", "asc"), ("n_chars", "desc")]
    by_offset = [
        tuple(r)
        for f in (0, 10, 20)
        for r in match_sorted(documents, "dup batch scan", sort_by, size=10, from_=f).collect()
    ]
    pages, cursor = [], None
    for _ in range(3):
        rows = [
            tuple(r)
            for r in match_sorted(
                documents, "dup batch scan", sort_by, size=10, after=cursor
            ).collect()
        ]
        pages.extend(rows)
        # cursor = last hit's sort values + doc_id (row is (doc_id, source, n_chars))
        cursor = (rows[-1][1], rows[-1][2], rows[-1][0])
    assert pages == by_offset
    # oracle parity for a mid-stream cursor
    mid_cursor = (by_offset[9][1], by_offset[9][2], by_offset[9][0])
    got = [
        tuple(r)
        for r in match_sorted(
            documents, "dup batch scan", sort_by, size=10, after=mid_cursor
        ).collect()
    ]
    want = _duck(sf_dir, match_sorted_sql("dup batch scan", sort_by, size=10, after=mid_cursor))
    assert got == want == by_offset[10:20]


def test_serving_search_after_identical(sort_searcher, documents):
    sort_by = [("n_chars", "desc")]
    first = [
        tuple(r) for r in match_sorted(documents, "dup batch scan", sort_by, size=10).collect()
    ]
    cursor = (first[-1][1], first[-1][0])
    got = [
        tuple(r)
        for r in sort_searcher.search_sorted(
            "dup batch scan", sort_by, size=10, after=cursor
        ).collect()
    ]
    want = [
        tuple(r)
        for r in match_sorted(documents, "dup batch scan", sort_by, size=10, after=cursor).collect()
    ]
    assert got == want


def test_search_after_excludes_from(documents, sort_searcher):
    with pytest.raises(ValueError, match="mutually exclusive"):
        match_sorted(documents, None, [("n_chars", "asc")], size=5, from_=5, after=(1, 2))
    with pytest.raises(ValueError, match="mutually exclusive"):
        sort_searcher.search_sorted(None, [("n_chars", "asc")], size=5, from_=5, after=(1, 2))


def test_search_after_goes_past_max_result_window(documents):
    """The whole point of keyset paging: no window cap applies."""
    sort_by = [("n_chars", "asc")]
    rows = match_sorted(documents, None, sort_by, size=5).collect()
    cursor = (rows[-1][1], rows[-1][0])
    assert match_sorted(documents, None, sort_by, size=5, after=cursor).count() == 5


# -- ES 1.x _script sort (type number) ---------------------------------------

SCRIPT_CASES = [
    ("dup batch scan", "or", "doc['n_chars'].value / 100 + log1p(doc['doc_id'].value)", "desc", 10, 0),
    ("dup batch scan", "or", "doc['n_chars'].value * -1", "asc", 10, 5),
    (None, "or", "sqrt(doc['n_chars'].value)", "asc", 10, 0),  # match_all
    ("zzzznotaterm", "or", "doc['n_chars'].value", "desc", 10, 0),  # empty
]


@pytest.mark.parametrize("query,mode,script,order,size,from_", SCRIPT_CASES)
def test_match_script_sorted_matches_duckdb(
    documents, sf_dir, query, mode, script, order, size, from_
):
    from flume_elasticsearch_2_spark.operators.sorting import (
        match_script_sorted,
        match_script_sorted_sql,
    )

    got = [
        tuple(r)
        for r in match_script_sorted(
            documents, query, script, order, size=size, from_=from_, mode=mode
        ).collect()
    ]
    want = _duck(
        sf_dir,
        match_script_sorted_sql(query, script, order, size=size, from_=from_, mode=mode),
    )
    assert got == want  # ordered compare
    if query != "zzzznotaterm":
        assert got


def test_script_sort_dsl_routing(documents, sf_dir):
    """The DSL front door routes {"sort": [{"_script": ...}]} onto the same
    kernel on both declarative and oracle paths."""
    from flume_elasticsearch_2_spark.operators.dsl import dsl_search, dsl_search_sql

    body = {
        "query": {"match": {"text": "dup batch"}},
        "sort": [{"_script": {
            "script": "doc['n_chars'].value / 10",
            "type": "number",
            "order": "desc",
        }}],
        "size": 7,
    }
    got = [tuple(r) for r in dsl_search(documents, body).collect()]
    want = _duck(sf_dir, dsl_search_sql(body))
    assert got == want and got


def test_script_sort_refusals(documents, sort_searcher):
    from flume_elasticsearch_2_spark.operators.dsl import dsl_search, dsl_search_index

    base = {"query": {"match": {"text": "dup"}}}

    def body(**sc):
        return {**base, "sort": [{"_script": {"script": "doc['n_chars'].value", **sc}}]}

    with pytest.raises(ValueError, match="number only"):
        dsl_search(documents, body(type="string"))
    with pytest.raises(ValueError, match="_score is not in scope"):
        dsl_search(documents, {**base, "sort": [{"_script": {"script": "_score * 2"}}]})
    with pytest.raises(ValueError, match="mix with field sorts"):
        dsl_search(
            documents,
            {**base, "sort": [{"_script": {"script": "doc['n_chars'].value"}},
                              {"n_chars": "desc"}]},
        )
    with pytest.raises(ValueError, match="plain match/match_all"):
        dsl_search(
            documents,
            {**body(), "highlight": {"fields": {"text": {}}}},
        )
    with pytest.raises(ValueError, match="not stored docs columns"):
        dsl_search_index(
            sort_searcher,
            {**base, "sort": [{"_script": {"script": "doc['nope'].value"}}]},
        )


@pytest.mark.parametrize(
    "query,script,order,size,from_",
    [
        ("dup batch scan", "doc['n_chars'].value / 100 + log1p(doc['doc_id'].value)", "desc", 10, 0),
        ("dup batch scan", "doc['n_chars'].value * -1", "asc", 10, 5),
        (None, "sqrt(doc['n_chars'].value)", "asc", 10, 0),  # match_all
        ("zzzznotaterm", "doc['n_chars'].value", "desc", 10, 0),
    ],
)
def test_script_sort_serving_equals_declarative(
    sort_searcher, documents, query, script, order, size, from_
):
    """Serving (_script sort over the stored-docs sidecar, match ids from
    postings) must page-identically match the declarative kernel."""
    from flume_elasticsearch_2_spark.operators.sorting import match_script_sorted

    got = [
        tuple(r)
        for r in sort_searcher.search_script_sorted(
            query, script, order, size=size, from_=from_
        ).collect()
    ]
    want = [
        tuple(r)
        for r in match_script_sorted(
            documents, query, script, order, size=size, from_=from_
        ).collect()
    ]
    assert got == want


def test_script_sort_dsl_serving_route(sort_searcher, documents):
    from flume_elasticsearch_2_spark.operators.dsl import dsl_search, dsl_search_index

    body = {
        "query": {"match": {"text": "dup batch"}},
        "sort": [{"_script": {"script": "doc['n_chars'].value / 10",
                              "type": "number", "order": "desc"}}],
        "size": 7,
    }
    got = [tuple(r) for r in dsl_search_index(sort_searcher, body).collect()]
    want = [tuple(r) for r in dsl_search(documents, body).collect()]
    assert got == want and got
