"""Catalyst plan hygiene (SURVEY §4.3): the physical plans we rely on must
actually show predicate pushdown, partition pruning, column pruning, and
broadcast joins — asserted on `.explain` output so a regression (e.g. a cast
that blocks pushdown) fails loudly instead of silently scanning everything.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    from flume_elasticsearch_2_spark.plans.build_index import build_index

    d = str(tmp_path_factory.mktemp("hyg") / "idx")
    build_index(spark, documents, d, n_shards=4)
    return d


def _plan(df) -> str:
    """Formatted physical plan as a string (what df.explain('formatted') prints)."""
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_postings_term_filter_pushed_down(spark, index_dir):
    df = (
        spark.read.parquet(f"{index_dir}/postings")
        .where(F.col("term").isin(["dup", "batch"]))
        .select("term", "n")
    )
    plan = _plan(df)
    assert "PushedFilters: [In(term" in plan, plan
    # column pruning: binary posting payloads must not be in the read schema
    assert "doc_bytes" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_postings_shard_partition_pruned(spark, index_dir):
    df = spark.read.parquet(f"{index_dir}/postings").where(F.col("shard") == 2)
    plan = _plan(df)
    # hive-partition pruning happens at planning: only shard=2 in partition filters
    assert "PartitionFilters" in plan
    assert "shard" in plan.split("PartitionFilters")[1].split("]")[0]


def test_topk_collapses_to_take_ordered(spark, documents):
    from flume_elasticsearch_2_spark.operators.topk import bm25_topk

    plan = _plan(bm25_topk(documents, "dup batch", k=10))
    assert "TakeOrderedAndProject" in plan
    # per-term tf via JVM array filter: the scoring pass is ONE narrow scan —
    # no joins, no exchanges, no doc-level shuffle of any kind
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_dedup_uses_single_shuffle_window(spark, sf_dir):
    from flume_elasticsearch_2_spark.operators.dedup import dedup_latest_by_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(
        dedup_latest_by_key(ev, "user_id", "ts", tie_col="event_id").select("user_id")
    )
    # one exchange for the window, no extra sort-merge join
    assert plan.count("Exchange") <= 2
    assert "SortMergeJoin" not in plan


def test_whole_stage_codegen_in_tokenize_path(spark, documents):
    from flume_elasticsearch_2_spark.operators.topk import doc_lengths

    plan = _plan(doc_lengths(documents))
    # formatted mode marks codegen'd operators with a leading '*'
    assert "* Project" in plan, plan


def test_ivf_probe_prunes_partitions(spark, tmp_path_factory):
    """Materialized IVF: probing nprobe clusters is hive-partition pruning at
    the scan — non-probed cluster directories are never read."""
    from flume_elasticsearch_2_spark.operators.similarity import ivf_build, ivf_search

    sf = __import__("os").environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    d = str(tmp_path_factory.mktemp("ivfidx") / "ivf")
    ivf_build(emb, d, n_centroids=8)
    q = list(emb.where("vec_id = 0").first().embedding)
    df = ivf_search(spark, d, q, k=5, nprobe=2)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "ivf_cluster" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # planning-time file pruning: 2 of 8 cluster partitions survive
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # Spark prints the scanned-partition count in formatted plans
        assert int(m.group(1)) == 2, plan


def test_match_count_is_single_pass_no_shuffle(spark, documents):
    """_count: one predicate scan + map-side-combined agg — a partial agg
    over the scan, a 1-row final agg, no joins and no doc-level shuffle
    (the only exchange is the 1-row-per-partition partial gather)."""
    from flume_elasticsearch_2_spark.operators.topk import match_count

    plan = _plan(match_count(documents, "dup batch scan"))
    assert "Join" not in plan
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert "SinglePartition" in plan  # the only exchange ships 1 row/partition
    # column pruning: the scan reads text only
    assert plan.split("ReadSchema")[1].split("\n")[0].strip(": ").startswith("struct<text")


def test_highlight_broadcasts_hits_not_corpus(spark, documents):
    """search_highlight: the k-row hit list is the BROADCAST side; the
    corpus scan stays streamed (no shuffle-exchange of the docs table for
    the join) and the markup expression sits above the join."""
    from flume_elasticsearch_2_spark.operators.highlight import search_highlight

    plan = _plan(search_highlight(documents, "dup batch scan", k=10))
    assert "BroadcastHashJoin" in plan, plan
    # the docs side of the join must not be exchanged by a shuffle join
    assert "SortMergeJoin" not in plan


def test_suggest_dictionary_agg_is_map_side_combined(spark, documents):
    """term_suggest: the dictionary is ONE groupBy over array_distinct
    tokens (partial agg before the exchange -> at most |vocab| rows per
    partition shuffle), then a vocabulary-sized Levenshtein filter."""
    from flume_elasticsearch_2_spark.operators.multiterm import term_suggest

    plan = _plan(term_suggest(documents, "scann"))
    assert plan.count("HashAggregate") >= 2  # partial + final dictionary agg
    assert "Join" not in plan


def test_dismax_is_join_free_take_ordered(spark, documents):
    """Multi-field dis_max (round 3): the scoring pass is ONE projection over
    the corpus ending in TakeOrderedAndProject — per-field dl and per-pair tf
    are JVM expressions in the same select, the combine is greatest()/
    arithmetic, and there is NO join or shuffle anywhere in the plan."""
    from pyspark.sql import functions as F

    from flume_elasticsearch_2_spark.functions.tokenizer import tokens_col
    from flume_elasticsearch_2_spark.operators.multifield import bm25_dismax_topk

    fdocs = documents.withColumn(
        "title", F.array_join(F.slice(tokens_col("text"), 1, 5), " ")
    )
    clauses = [("title", "dup batch", "or"), ("text", "batch scan", "and")]
    plan = _plan(bm25_dismax_topk(fdocs, clauses, k=10, tie_breaker=0.2))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_scroll_export_reads_doc_streams_only(spark, index_dir):
    """scroll_export: both passes are one-task-per-shard decodes of the
    postings DOC streams; nothing is sorted globally (no Exchange above the
    emit stage) and nothing but (page, doc_id) leaves the tasks."""
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    s = IndexSearcher(spark, index_dir)
    df = s.scroll_export("batch small scan", page_size=50)
    plan = _plan(df)
    assert "Exchange" not in plan and "Sort" not in plan, plan


def test_function_score_is_single_pass_take_ordered(spark, documents):
    """function_score: the field factor is a JVM expression in the SAME
    scoring projection — one pass ending in TakeOrderedAndProject, no join,
    no exchange (the factor never costs a fetch phase)."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_function_score_topk

    plan = _plan(
        bm25_function_score_topk(
            documents, "dup batch scan", "n_chars", modifier="ln1p", k=10
        )
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_hash_sample_is_map_side_only(spark, documents):
    """hash_sample: a pure map-side predicate — zero exchanges, zero joins,
    zero aggregates; the whole plan is scan -> filter."""
    from flume_elasticsearch_2_spark.operators.sampling import hash_sample

    plan = _plan(hash_sample(documents, 0.25, seed=3))
    for op in ("Exchange", "Join", "Aggregate", "Sort", "Window"):
        assert op not in plan, (op, plan)


def test_stratified_sample_is_one_shuffle_window(spark, documents):
    """stratified_sample: exactly ONE exchange (hash-partition on the group
    key) feeding the rank window — no join, no second shuffle. Spark 4's
    WindowGroupLimit additionally truncates to <=n rows per group PARTIALLY
    (map-side, before the exchange) — pin that too: the shuffle never
    carries more than n rows per (group, input partition)."""
    from flume_elasticsearch_2_spark.operators.sampling import stratified_sample

    plan = _plan(stratified_sample(documents, "lang", 10, seed=7))
    assert plan.count("Exchange (") == 1, plan  # tree node label, once
    assert "Window" in plan and "Join" not in plan, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_range_and_filters_aggs_are_single_pass(spark, documents):
    """range/filters aggs: one corpus pass — a count_if per bucket inside ONE
    global aggregate (exactly one exchange, the partial->final agg split),
    then an O(n_buckets) generate. No join, no per-bucket scan."""
    from flume_elasticsearch_2_spark.operators.aggs import filters_facet, range_facet

    rdf = range_facet(
        documents, "dup batch", "n_chars", [{"to": 500}, {"from": 500}]
    )
    fdf = filters_facet(
        documents, {"en": [("lang", "==", "en")], "big": [("n_chars", ">=", 99)]}
    )
    for df in (rdf, fdf):
        plan = _plan(df)
        assert "Join" not in plan, plan
        assert plan.count("Exchange (") == 1, plan


def test_top_hits_shuffles_at_most_k_per_bucket_partition(spark, documents):
    """top_hits: partial WindowGroupLimit BELOW the exchange — at most k rows
    per (bucket, input partition) ride the shuffle, never a bucket's match
    set."""
    from flume_elasticsearch_2_spark.operators.aggs import top_hits_agg

    plan = _plan(top_hits_agg(documents, "batch scan", "lang", 3, "n_chars"))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "Join" not in plan, plan


def test_significant_terms_is_one_exploded_agg(spark, documents):
    """significant_terms: fg and bg doc counts from ONE exploded-distinct
    pass (the index-build shuffle shape) — no self-join, no second tokenize
    of the corpus; plan = scan -> generate -> partial agg -> exchange ->
    final agg -> sort/limit."""
    from flume_elasticsearch_2_spark.operators.aggs import significant_terms_facet

    plan = _plan(significant_terms_facet(documents, "dup batch scan", size=10))
    assert "Join" not in plan, plan
    assert plan.count("Generate (") == 1, plan  # tree node label, once


def test_common_terms_is_single_pass_take_ordered(spark, documents):
    """Q34: common terms' low-freq candidate predicate rides the SAME
    narrow scoring scan as bm25_topk — no joins, no exchanges."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_common_topk

    plan = _plan(bm25_common_topk(documents, "dup batch scan", k=10, cutoff_frequency=0.1))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_phrase_prefix_is_single_pass_take_ordered(spark, documents):
    """Q35: the prefix-class pf/df columns are JVM array expressions in one
    narrow scan (uncapped form: no dictionary job at all)."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_phrase_prefix_topk

    plan = _plan(bm25_phrase_prefix_topk(documents, "batch s", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_completion_dictionary_agg_is_map_side_combined(spark, documents):
    """Q32: the completion dictionary is ONE partial-aggregated explode —
    ≤ vocabulary rows cross the exchange, and the prefix filter sits under
    the aggregation, not after it."""
    from flume_elasticsearch_2_spark.operators.multiterm import completion_suggest

    plan = _plan(completion_suggest(documents, "s", 5))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan


def test_has_child_pushes_child_filter_and_combines_map_side(spark, sf_dir):
    """Q36: the child filter reaches the lineitem Parquet scan; the
    per-parent aggregate is partial-combined before the key exchange."""
    from flume_elasticsearch_2_spark.operators.joins import has_child

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = has_child(
        orders, lineitem, "o_orderkey", "l_orderkey",
        [("l_returnflag", "==", "R"), ("l_quantity", ">=", 30)], "sum", k=15,
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_returnflag" in plan.split("PushedFilters")[1].split("]")[0]
    assert plan.count("HashAggregate") >= 2  # partial + final around the key exchange
    # column pruning: the scan must not read unused lineitem columns
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_has_parent_broadcasts_filtered_parent_side(spark, sf_dir):
    """Q36: the filtered parent side is small — AQE/static planning must
    broadcast it rather than shuffling 60k children."""
    from flume_elasticsearch_2_spark.operators.joins import has_parent

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = has_parent(
        lineitem, orders, "o_orderkey", "l_orderkey",
        [("o_orderpriority", "==", "1-URGENT"), ("o_totalprice", ">=", 50000)],
        "score", "o_totalprice", k=12, child_id_cols=["l_orderkey", "l_linenumber"],
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_termvectors_filters_explode_before_term_shuffle(spark, documents):
    """Q33: the corpus agg's IN-filter on the doc's terms sits UNDER the
    (term) aggregation — the exchange carries only the doc's vocabulary."""
    from flume_elasticsearch_2_spark.operators.admin import termvectors

    # termvectors() collects; reproduce its stats frame shape to pin the plan
    from flume_elasticsearch_2_spark.functions.tokenizer import tokens_col

    stats = (
        documents.select(F.col("doc_id"), F.explode(tokens_col("text")).alias("term"))
        .where(F.col("term").isin(["dup", "batch", "scan"]))
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
    )
    plan = _plan(stats)
    gen_idx = plan.find("Generate")
    filt_idx = plan.find("Filter")
    agg_idx = plan.find("Exchange")
    assert gen_idx != -1 and filt_idx != -1 and agg_idx != -1
    # sanity that the op produces the right rows
    assert termvectors(documents, 3).count() > 0


def test_sessionize_single_user_keyed_exchange(spark, sf_dir):
    """Sessionization: the lag/cumsum window and the session aggregation
    share ONE user-keyed exchange — a second shuffle would double the op's
    cost at 10^12 events."""
    from flume_elasticsearch_2_spark.operators.events import sessionize

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(sessionize(events, 1800))
    # EVENT-level rows shuffle exactly once (the user-keyed exchange under
    # the two adjacent Window nodes — no exchange between them); the second
    # exchange sits ABOVE a partial HashAggregate, so it carries only
    # session-level partial rows, never events
    tree = plan.split("\n\n")[0]
    win_block = tree[tree.find("Window") : tree.rfind("Window")]
    assert "Exchange" not in win_block, plan  # lag + cumsum share the shuffle
    assert tree.count("Exchange") == 2 and tree.count("HashAggregate") >= 2, plan


def test_session_new_operators_stay_jvm_side(spark, documents, sf_dir):
    """Round-3 continuation operators whose whole point is staying inside
    whole-stage codegen: geohash encode, decay multiplier, polygon test,
    HLL register map, and the metric-agg script value must compile to pure
    JVM expressions — NO Python evaluation node in any plan."""
    from flume_elasticsearch_2_spark.operators.aggs import (
        hll_cardinality,
        metric_facet,
    )
    from flume_elasticsearch_2_spark.operators.geo import (
        geo_enrich,
        geo_polygon_hits,
        geohash_grid_agg,
    )
    from flume_elasticsearch_2_spark.operators.topk import bm25_function_score_topk

    gdocs = geo_enrich(documents)
    frames = [
        geohash_grid_agg(gdocs, precision=4, size=10),
        geo_polygon_hits(
            gdocs, [(-60.0, -120.0), (70.0, -100.0), (60.0, 80.0)], k=10
        ),
        hll_cardinality(documents, "dup batch", "text"),
        metric_facet(documents, None, None, "avg",
                     script="log1p(doc['n_chars'].value)"),
        bm25_function_score_topk(
            documents, "dup batch", None, boost_mode="sum",
            decay={"kind": "gauss", "field": "n_chars", "origin": 400.0,
                   "scale": 250.0},
        ),
    ]
    for df in frames:
        plan = _plan(df)
        assert "EvalPython" not in plan, plan  # no row-at-a-time/Arrow UDF


def test_histogram_spine_join_is_tiny_and_broadcast_or_reused(spark, documents):
    """min_doc_count:0 histogram: the spine join must not shuffle the
    bucket counts a second time at scale — the spine side is one scalar
    agg exploded (a handful of rows), so the join is broadcast (or the
    agg exchange is reused)."""
    from flume_elasticsearch_2_spark.operators.facets import histogram_facet

    plan = _plan(histogram_facet(documents, None, "n_chars", 500,
                                 min_doc_count=0))
    assert "BroadcastHashJoin" in plan or "ReusedExchange" in plan, plan


def test_bulk_apply_joins_are_broadcast_only(spark, documents):
    """apply_bulk: the batch-sized patch table joins the corpus BROADCAST
    (one LEFT), creates anti-join BROADCAST — never a corpus shuffle join."""
    from flume_elasticsearch_2_spark.operators.bulk import apply_bulk

    plan = _plan(apply_bulk(documents, [
        ("update", 7, {"lang": "xx"}),
        ("create", 90002, {"text": "t", "lang": "de", "source": "s", "n_chars": 1}),
        ("delete", 3, None),
    ]))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_chunk_docs_is_shuffle_free(spark, documents):
    """chunk_docs: sequence/explode/slice ride the scan — zero Exchange
    below the output ordering (the orderBy is presentation for the oracle
    compare; the chunking itself never shuffles)."""
    from flume_elasticsearch_2_spark.operators.packing import chunk_docs
    from pyspark.sql import functions as F

    df = chunk_docs(documents, window=32, stride=16)
    # strip the presentation orderBy: count the chunks instead
    plan = _plan(df.groupBy().agg(F.count("*")))
    # only the final single-partition agg exchange may appear — never a
    # hash/range repartition of the chunk stream
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_pack_sequences_single_group_shuffle(spark, documents):
    """pack_sequences: ONE hash exchange on the group key feeds the
    per-group sequential packer; no second corpus shuffle."""
    from flume_elasticsearch_2_spark.operators.packing import pack_sequences

    plan = _plan(pack_sequences(documents, budget=64))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan, plan
    assert plan.count("hashpartitioning") == 1, plan  # the group key, once


def test_agg_tree_nested_scans_corpus_once(spark, documents):
    from flume_elasticsearch_2_spark.operators.subaggs import agg_tree

    body = {"aggs": {"by_lang": {
        "terms": {"field": "lang", "size": 3},
        "aggs": {"avg_chars": {"avg": {"field": "n_chars"}},
                 "by_source": {"terms": {"field": "source", "size": 2},
                     "aggs": {"sum_chars": {"sum": {"field": "n_chars"}}}}},
    }}}
    plan = _plan(agg_tree(documents, body))
    # the finest-level partials are persisted: every branch (parent rollup,
    # page join, child ranking) reads the cached partials, so the corpus
    # parquet appears as ONE distinct scan node (the formatted plan reprints
    # the same node id inside each InMemoryRelation definition); without the
    # persist this plan had 3 independent scans
    import re as _re

    scan_ids = set(_re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) <= 1, plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
    # the parent-page join must broadcast the <= size page, never shuffle it
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_agg_tree_partials_are_map_side_combined(spark, documents):
    from flume_elasticsearch_2_spark.operators.subaggs import agg_tree

    body = {"query": {"match": {"text": "dup batch"}},
            "aggs": {"by_lang": {"terms": {"field": "lang", "size": 5},
                     "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}
    plan = _plan(agg_tree(documents, body))
    # one wide shuffle at the bucket level with partial_ functions before it
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan


def test_span_queries_are_join_free_take_ordered(spark, documents):
    """span_or / span_not (round 3): both declarative scorers are two narrow
    passes over (doc_id, text) — the scoring pass is one projection ending
    in TakeOrderedAndProject, no join or shuffle anywhere, and the scan
    reads exactly the two needed columns."""
    from flume_elasticsearch_2_spark.operators.topk import (
        bm25_span_not_topk,
        bm25_span_or_topk,
    )

    for df in (
        bm25_span_or_topk(documents, ["dup", "merge"], k=10),
        bm25_span_not_topk(documents, "batch", "scan", pre=2, post=2, k=10),
    ):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        assert "Join" not in plan and "Exchange" not in plan, plan
        read = plan.split("ReadSchema")[1].split("\n")[0]
        assert "doc_id" in read and "text" in read and "lang" not in read


def test_children_agg_collapses_children_before_join(spark, sf_dir):
    """children aggregation (round 3): child rows must collapse to
    per-parent partials via a map-side-combined groupBy BEFORE the parent
    join — the exchange carries <= one row per parent, never raw children —
    and the bucket rollup is a second partial-combined aggregate."""
    from flume_elasticsearch_2_spark.operators.joins import children_agg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = children_agg(
        orders, lineitem, "o_orderkey", "l_orderkey", "o_orderpriority",
        ("sum", "l_quantity"), child_filters=[("l_returnflag", "==", "R")],
    )
    # executedPlan (not formatted: that section lists every op twice)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # per-parent partials are map-side combined (partial_ before the shuffle)
    assert "partial_count" in plan and "partial_sum" in plan, plan
    # exactly ONE join operator, and it consumes the per-parent partials
    n_joins = (
        plan.count("SortMergeJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
    )
    assert n_joins == 1, plan
    # the child filter reaches the parquet scan
    assert "EqualTo(l_returnflag,R)" in plan, plan


def test_count_terminated_single_shard_exchange(spark, documents):
    """terminate_after declarative plan: the only exchange is the
    <=n_shards-row shard groupBy (map-side combined) — the match predicate
    rides the scan, no joins of doc-level data (the 1-row id_space side is
    a broadcast)."""
    from flume_elasticsearch_2_spark.operators.topk import match_count_terminated

    plan = _plan(
        match_count_terminated(documents, "dup batch", terminate_after=5, n_shards=4)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan  # partial per-shard counts combine map-side


def test_field_stats_is_one_aggregate_pass(spark, documents):
    """field_stats: every field's stats come from ONE global aggregate —
    no joins, no shuffle beyond the scalar agg's single exchange."""
    from flume_elasticsearch_2_spark.operators.admin import field_stats

    # the API collects internally; pin the plan of the underlying agg shape
    aggs = []
    for i, f in enumerate(["lang", "n_chars"]):
        aggs += [
            F.count(F.col(f)).alias(f"c{i}"),
            F.min(F.col(f)).cast("string").alias(f"mn{i}"),
            F.max(F.col(f)).cast("string").alias(f"mx{i}"),
        ]
    plan = _plan(documents.agg(*aggs))
    assert "Join" not in plan
    # formatted explain prints each operator in the tree AND the detail
    # list, so count tree nodes only: exactly the one SinglePartition
    # exchange between partial and final aggregates
    assert plan.count("+- Exchange") == 1, plan
    assert "partial_count" in plan  # map-side combine before the exchange


def test_autocomplete_stays_single_scan(spark, documents):
    """Edge-gram analyzed BM25 keeps bm25_topk's zero-join zero-exchange
    scoring pass — the gram expansion is a JVM expression riding the scan,
    never an explode/shuffle."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_topk

    plan = _plan(
        bm25_topk(documents, "bat", k=10, analyzer="ascii_edge1_6",
                  search_analyzer="ascii")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_script_sort_take_ordered_no_join(spark, documents):
    from flume_elasticsearch_2_spark.operators.sorting import match_script_sorted

    plan = _plan(
        match_script_sorted(documents, "dup batch", "doc['n_chars'].value / 10", "desc")
    )
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan


def test_or_filter_node_pushes_into_parquet_scan(spark, documents):
    """Round 5: the general OR compound filter compiles coalesce-free, so
    Catalyst pushes the WHOLE Or(leaf, And(leaf, leaf)) tree into the
    Parquet scan — a disjunctive filter that still prunes row groups at
    100 TB (the NOT node keeps its single COALESCE, the one place null
    resolution is semantically required)."""
    from flume_elasticsearch_2_spark.operators.dsl import (
        _filter_triples,
        _filters_col,
    )

    t = _filter_triples([{"or": [
        {"term": {"lang": "en"}},
        {"and": [{"range": {"n_chars": {"gte": 900}}},
                 {"term": {"source": "web"}}]},
    ]}])
    plan = _plan(documents.where(_filters_col(t)).select("doc_id"))
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "Or(EqualTo(lang,en)" in pushed and "GreaterThanOrEqual(n_chars,900)" in pushed, plan


def _group_jobs(sc, group: str) -> list[tuple[int, int]]:
    """(stages run, tasks run) of every job run under one job group, in job
    order, read from Spark's status store once its listener bus has drained
    (tools/build_job_table.py reads it the same way). The counts are the
    job's own: a long session evicts old stages from the store, skipped
    ones first, so a per-stage lookup can find nothing."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        out.append((job.numCompletedStages(), job.numCompletedTasks()))
    return out


def test_serving_scatter_is_one_job_one_task_per_active_shard(spark, tmp_path_factory):
    """search() and search_many() each run ONE Spark job: one narrow stage
    with one task per active shard, up to ``defaultParallelism``. An AND
    pairing a term held by one shard with a term held by all four starts
    only the intersection's task (and returns the declarative ranking); OR
    starts the union's."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_topk
    from flume_elasticsearch_2_spark.plans.build_index import build_index
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    rows = [(i, "hot pad" + (" rare" if i < 8 else "") + " pad" * (i % 5)) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("scatter") / "idx")
    build_index(spark, docs, d, n_shards=4)
    s = IndexSearcher(spark, d)
    sc = spark.sparkContext
    cases = [("rare hot", "and", 1), ("rare hot", "or", 4), ("hot", "or", 4)]
    try:
        for i, (q, mode, n_active) in enumerate(cases):
            group = f"hyg-scatter-{i}"
            sc.setJobGroup(group, "search")
            got = [tuple(r) for r in s.search(q, k=10, mode=mode).collect()]
            assert _group_jobs(sc, group) == [(1, n_active)], (q, mode)
            want = [tuple(r) for r in bm25_topk(docs, q, k=10, mode=mode).collect()]
            assert got == want and got, (q, mode)
        sc.setJobGroup("hyg-scatter-many", "search_many")
        s.search_many({"a": ("rare hot", "and"), "b": ("rare", "or")}, k=10).collect()
        assert _group_jobs(sc, "hyg-scatter-many") == [(1, 1)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_scatter_packs_tasks_to_default_parallelism(spark):
    """More shard tasks than cores run as ONE job of ONE stage with exactly
    ``defaultParallelism`` Spark tasks (one wave), and the collected rows
    keep the task order."""
    import pandas as pd

    from flume_elasticsearch_2_spark.plans.query_index import _scatter

    sc = spark.sparkContext
    tasks = list(range(2 * sc.defaultParallelism + 1))
    try:
        sc.setJobGroup("hyg-scatter-pack", "_scatter")
        rows = _scatter(
            spark, tasks, lambda t: pd.DataFrame({"t": [t]}), "t long"
        ).collect()
        assert _group_jobs(sc, "hyg-scatter-pack") == [(1, sc.defaultParallelism)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["t"] for r in rows] == tasks


def test_empty_serving_results_start_no_job(spark, tmp_path_factory):
    """A query no doc can match returns its typed, empty page without a
    Spark job: a missing term, an AND of terms held in disjoint shards (an
    empty shard intersection), and a search_many batch where every query
    misses."""
    from flume_elasticsearch_2_spark.plans.build_index import build_index
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    rows = [
        (i, "pad" + (" head" if i < 8 else "") + (" tail" if i >= 192 else ""))
        for i in range(200)
    ]
    d = str(tmp_path_factory.mktemp("empty") / "idx")
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), d, n_shards=4)
    s = IndexSearcher(spark, d)
    assert not set(s._active_shards(["head"])[2]) & set(s._active_shards(["tail"])[2])
    sc = spark.sparkContext
    cases = [
        ("miss", lambda: s.search("zzzznotaterm", k=10), "struct<doc_id:bigint,score:double>"),
        ("disjoint-and", lambda: s.search("head tail", k=10, mode="and"),
         "struct<doc_id:bigint,score:double>"),
        ("many-miss", lambda: s.search_many(
            {"a": ("zzzznotaterm", "or"), "b": ("head tail", "and")}, k=10),
         "struct<query_id:string,doc_id:bigint,score:double>"),
    ]
    try:
        for name, run, schema in cases:
            group = f"hyg-empty-{name}"
            sc.setJobGroup(group, name)
            df = run()
            assert df.collect() == [], name
            assert _group_jobs(sc, group) == [], name
            assert df.schema.simpleString() == schema, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_count_pages_start_no_second_job(spark, tmp_path_factory):
    """count / count_terminated / facet_query_count return their one-row
    page as a local relation: each runs exactly its scatter job (one), and
    a single-term OR count, answered from the dictionary's df, runs none."""
    from flume_elasticsearch_2_spark.plans.build_index import build_index
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    rows = [(i, "hot pad" + (" rare" if i < 8 else "") + " pad" * (i % 5)) for i in range(200)]
    d = str(tmp_path_factory.mktemp("countpages") / "idx")
    build_index(spark, spark.createDataFrame(rows, "doc_id long, text string"), d, n_shards=4)
    s = IndexSearcher(spark, d)
    sc = spark.sparkContext
    cases = [
        ("count", lambda: s.count("rare hot", mode="and"), [(8,)], 1),
        ("count-df", lambda: s.count("rare"), [(8,)], 0),
        ("terminated", lambda: s.count_terminated("hot pad", 5), [(20, 1)], 1),
        ("facet-count", lambda: s.facet_query_count("hot", "rare"), [(8,)], 1),
        ("facet-count-all", lambda: s.facet_query_count(None, "rare hot", facet_mode="and"),
         [(8,)], 1),
    ]
    try:
        for name, run, want, n_jobs in cases:
            group = f"hyg-count-{name}"
            sc.setJobGroup(group, name)
            assert [tuple(r) for r in run().collect()] == want, name
            assert len(_group_jobs(sc, group)) == n_jobs, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_index_webpages_job_count(spark, tmp_path_factory):
    """The webpages build runs at most 28 Spark jobs: the id space comes
    from the dense doc ids, not from a max() pass over the corpus."""
    from flume_elasticsearch_2_spark.plans.pipeline import index_webpages
    from flume_elasticsearch_2_spark.sources.webpages import generate_webpages

    sc = spark.sparkContext
    pages = generate_webpages(spark, 300, n_partitions=4)
    try:
        sc.setJobGroup("hyg-build", "index_webpages")
        manifest = index_webpages(
            spark, pages, str(tmp_path_factory.mktemp("jobs") / "idx"), n_shards=4
        )
        jobs = _group_jobs(sc, "hyg-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert manifest["id_space"] == manifest["n_docs"]
    assert len(jobs) <= 28, jobs


def test_chunked_build_job_count(spark, tmp_path_factory):
    """The chunked resumable build tokenizes each chunk once (the tokenize
    accumulator counts every doc exactly once) and no stage-1 job re-reads
    what the chunk just wrote: 10 jobs per chunk (15 with the tf-row
    staging, whose docmeta write re-tokenized the chunk and whose postings
    count re-read it). A fully committed re-run is stage 2 alone: it
    tokenizes nothing and runs the finalize's jobs, with no id-space pass
    (the id space is the sum of the chunks' doc counts)."""
    from flume_elasticsearch_2_spark.plans.resume import build_index_chunked
    from flume_elasticsearch_2_spark.sources.webpages import write_webpages

    base = tmp_path_factory.mktemp("chunkjobs")
    corpus = str(base / "corpus")
    write_webpages(spark, 300, corpus, n_partitions=4)
    sc = spark.sparkContext
    runs = {}
    for name in ("fresh", "rerun"):
        acc = sc.accumulator(0)
        try:
            sc.setJobGroup(f"hyg-chunked-{name}", name)
            manifest = build_index_chunked(
                spark, corpus, str(base / "idx"), str(base / "work"),
                n_shards=4, files_per_chunk=2, tokenize_counter=acc,
            )
            runs[name] = (len(_group_jobs(sc, f"hyg-chunked-{name}")), acc.value)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert manifest["chunks"] == 2 and manifest["id_space"] == 300
    (fresh, tokenized), (stage2, retokenized) = runs["fresh"], runs["rerun"]
    assert (tokenized, retokenized) == (300, 0)
    assert stage2 <= 18, runs
    assert fresh - stage2 <= 2 * 10, runs


def test_suggest_and_termvector_pages_start_no_extra_job(spark, tmp_path_factory):
    """The suggesters read the terms/ dictionary with pyarrow and return a
    local relation: no Spark job. termvectors / mtermvectors run only
    their stored-field fetch (mget) job; the page itself starts none."""
    from flume_elasticsearch_2_spark.plans.build_index import build_segments_partial
    from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

    rows = [
        (i, "hot pad" + (" rare" if i < 8 else " rate" if i < 12 else "") + " pad" * (i % 5))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("suggestpages") / "idx")
    build_segments_partial(spark, docs, d, n_shards=4, orig_ids=docs)
    s = IndexSearcher(spark, d)
    sc = spark.sparkContext

    def jobs(name: str, run) -> tuple[list, int]:
        group = f"hyg-suggest-{name}"
        sc.setJobGroup(group, name)
        try:
            got = [tuple(r) for r in run().collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return got, len(_group_jobs(sc, group))

    _, fetch_one = jobs("mget-one", lambda: s.mget([3], columns=["text"]))
    _, fetch_two = jobs("mget-two", lambda: s.mget([3, 199], columns=["text"]))
    assert fetch_one and fetch_two
    cases = [
        ("suggest", lambda: s.suggest("rare", max_edits=1), [("rate", 1, 4)], 0),
        ("suggest-none", lambda: s.suggest("qqqq"), [], 0),
        ("complete", lambda: s.complete("ra"), [("rare", 8), ("rate", 4)], 0),
        ("suggest-phrase", lambda: s.suggest_phrase("hot rame"), None, 0),
        ("termvectors", lambda: s.termvectors(3),
         [("hot", 1, 200, 200), ("pad", 4, 200, 600), ("rare", 1, 8, 8)], fetch_one),
        ("mtermvectors", lambda: s.mtermvectors([3, 199]), None, fetch_two),
    ]
    for name, run, want, n_jobs in cases:
        got, n = jobs(name, run)
        assert got == want if want is not None else got, (name, got)
        assert n == n_jobs, name
