"""End-to-end segment index: build over sf0.001 documents, rank-identity of
pruned (block-max) and exhaustive DAAT vs the NumPy brute-force oracle and
the declarative DataFrame path (SURVEY.md §5.3)."""

from __future__ import annotations

import json

import pytest

from flume_elasticsearch_2_spark.operators.topk import bm25_topk
from flume_elasticsearch_2_spark.plans.build_index import build_index
from flume_elasticsearch_2_spark.plans.query_index import IndexSearcher

from .oracle import brute_force_bm25

from flume_elasticsearch_2_spark.queryset import QUERY_SET as QUERIES  # noqa: E402

# the legacy-index read-back uses a subset to bound suite runtime; the full
# fixed set runs through the oracle and pruned-vs-exhaustive identities
ENGINE_QUERIES = QUERIES[::3]


@pytest.fixture(scope="module")
def index_dir(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "segidx")
    manifest = build_index(spark, documents, d, n_shards=4)
    assert manifest["n_docs"] == documents.count()
    return d


@pytest.fixture(scope="module")
def searcher(spark, index_dir):
    return IndexSearcher(spark, index_dir)


@pytest.fixture(scope="module")
def corpus(documents):
    return [(r.doc_id, r.text) for r in documents.select("doc_id", "text").collect()]


@pytest.mark.parametrize("query,mode", QUERIES)
def test_pruned_matches_oracle(searcher, corpus, query, mode):
    expected = brute_force_bm25(corpus, query, k=10, mode=mode)
    got = searcher.search(query, k=10, mode=mode, pruned=True).collect()
    assert [r.doc_id for r in got] == [d for d, _ in expected]
    for r, (_, s) in zip(got, expected):
        assert abs(r.score - s) < 1e-6


@pytest.mark.parametrize("query,mode", QUERIES)
def test_pruned_equals_exhaustive(searcher, query, mode):
    p = [(r.doc_id, r.score) for r in searcher.search(query, k=10, mode=mode, pruned=True).collect()]
    e = [(r.doc_id, r.score) for r in searcher.search(query, k=10, mode=mode, pruned=False).collect()]
    assert p == e


def test_segment_path_equals_dataframe_path(searcher, documents):
    q = "dup batch scan"
    seg = [(r.doc_id, r.score) for r in searcher.search(q, k=10).collect()]
    dfp = [(r.doc_id, r.score) for r in bm25_topk(documents, q, k=10).collect()]
    assert seg == dfp


def test_manifest_and_layout(index_dir):
    with open(f"{index_dir}/manifest.json") as fh:
        m = json.load(fh)
    assert m["n_shards"] == 4 and m["block_size"] == 128
    import glob

    shards = sorted(glob.glob(f"{index_dir}/postings/shard=*"))
    assert len(shards) == 4


def test_terms_table_matches_declarative_stats(spark, index_dir, documents):
    """terms/ (df, cf) derived from postings read-back must equal a direct
    groupBy over the tokenized corpus."""
    import pyspark.sql.functions as F

    from flume_elasticsearch_2_spark.operators.topk import corpus_tokens

    got = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(f"{index_dir}/terms").collect()
    }
    exp = {
        r["term"]: (r["df"], r["cf"])
        for r in corpus_tokens(documents)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("cf"))
        .collect()
    }
    assert got == exp


def test_fetch_phase(searcher):
    rows = searcher.search("dup", k=5, fetch=True).collect()
    assert len(rows) == 5
    assert rows[0].score >= rows[-1].score


def test_postings_compressed_smaller_than_raw(spark, index_dir):
    # compression sanity: postings bytes << 8 bytes/posting
    import pyspark.sql.functions as F

    p = spark.read.parquet(f"{index_dir}/postings")
    row = p.agg(
        F.sum(F.length("doc_bytes") + F.length("tf_bytes")).alias("nbytes"),
        F.sum("n").alias("npost"),
    ).collect()[0]
    assert row.nbytes / row.npost < 4.0


@pytest.mark.parametrize("query,mode", QUERIES)
def test_search_local_equals_spark_path(searcher, query, mode):
    """Driver-local serving path (no Spark job) is rank-identical to the
    scatter/gather path."""
    spark_rows = [
        (r.doc_id, r.score) for r in searcher.search(query, k=10, mode=mode).collect()
    ]
    local = searcher.search_local(query, k=10, mode=mode)
    local_rows = list(zip(local["doc_id"].tolist(), local["score"].tolist()))
    assert local_rows == spark_rows


def test_search_many_rank_identical_to_per_query(searcher):
    """Batched scatter/gather (one job, all queries) must be rank-identical
    per query to the per-query search path — including empty-result queries
    (absent term) and AND-mode."""
    batch = {f"q{i}": qm for i, qm in enumerate(QUERIES)}
    batch["q_absent"] = ("zzzznotaterm", "or")
    batch["q_empty"] = ("", "or")
    got = searcher.search_many(batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, (query, mode) in batch.items():
        exp = [(r.doc_id, r.score) for r in searcher.search(query, k=10, mode=mode).collect()]
        assert by_qid.get(qid, []) == exp, qid


def test_doc_filter_matches_declarative(spark, documents, tmp_path_factory):
    """ES bool-filter on the serving path (docs read pruned, candidates
    masked in DAAT) must be rank-identical to the declarative doc_filter
    path — both with index-wide idf/avgdl/N. search_local and search_many
    agree too."""
    from pyspark.sql import functions as F

    from flume_elasticsearch_2_spark.plans.build_index import build_segments_partial

    d = str(tmp_path_factory.mktemp("fidx") / "segidx")
    build_segments_partial(
        spark, documents, d, 4, orig_ids=documents.select("doc_id", "lang")
    )
    s = IndexSearcher(spark, d)
    flt = ("lang", "==", "en")
    for query, mode in [("dup batch scan", "or"), ("join filter window", "and")]:
        want = [
            (r.doc_id, r.score)
            for r in bm25_topk(
                documents, query, k=10, mode=mode, doc_filter=F.col("lang") == "en"
            ).collect()
        ]
        got = [
            (r.doc_id, r.score)
            for r in s.search(query, k=10, mode=mode, doc_filter=flt).collect()
        ]
        loc = [
            (int(r.doc_id), round(float(r.score), 6))
            for r in s.search_local(query, k=10, mode=mode, doc_filter=flt).itertuples(
                index=False
            )
        ]
        assert got == want == loc, (query, mode)
        assert want, "filtered result should be non-empty on the fixture"
    many = s.search_many({"q0": ("dup batch scan", "or")}, k=10, doc_filter=flt).collect()
    assert [(r.doc_id, r.score) for r in many] == [
        (r.doc_id, r.score) for r in s.search("dup batch scan", k=10, doc_filter=flt).collect()
    ]


def test_manifest_skew_metric(index_dir):
    with open(f"{index_dir}/manifest.json") as fh:
        m = json.load(fh)
    assert len(m["postings_per_shard"]) == m["n_shards"]
    # doc-range sharding bounds skew structurally: max/median stays small
    assert m["shard_skew_max_over_median"] < 2.0


def _decoded_index(spark, index_dir):
    """Decoded postings, docs and terms rows of an index (Parquet footers
    may list encodings in a per-JVM order, so file bytes are not compared)."""
    cols = ["shard", "term", "n", "cf", "doc_bytes", "tf_bytes", "block_first_doc",
            "block_last_doc", "block_max_tf", "block_min_dl"]
    return tuple(
        sorted(tuple(r) for r in spark.read.parquet(f"{index_dir}/{sub}").select(*c).collect())
        for sub, c in (("postings", cols), ("docs", ["doc_id", "dl", "shard", "orig_id"]),
                       ("terms", ["term", "df", "cf"]))
    )


@pytest.mark.parametrize("dedup", [False, True], ids=["plain", "dedup"])
def test_chunked_build_equals_one_shot(spark, tmp_path_factory, dedup):
    """The chunked resumable build (staged packed runs, rebased at stage 2)
    equals a one-shot build over the same docs with the chunked build's ids
    and id space; with dedup, over the winners of each repeated url only
    (the corpus repeats ~2% of its urls)."""
    from functools import reduce

    from pyspark.sql.window import Window

    from flume_elasticsearch_2_spark.plans.build_index import (
        assign_doc_ids,
        build_segments_partial,
    )
    from flume_elasticsearch_2_spark.plans.resume import build_index_chunked, plan_chunks
    from flume_elasticsearch_2_spark.sources.webpages import write_webpages
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("chunked")
    corpus = str(root / "corpus")
    write_webpages(spark, 500, corpus, n_partitions=5)
    chunked = build_index_chunked(
        spark, corpus, str(root / "chunked"), str(root / "work"),
        n_shards=4, files_per_chunk=2, dedup=dedup,
    )
    # the chunked build's ids: keyed local order within a chunk, offset by
    # the doc counts of the chunks before it
    parts, offset = [], 0
    for ch in plan_chunks(corpus, files_per_chunk=2):
        ids = assign_doc_ids(spark.read.parquet(*ch["files"]), tie_cols=["warc_ts"])
        parts.append(ids.withColumn("doc_id", F.col("doc_id") + offset))
        offset += ids.count()
    assert len(parts) == 3 and chunked["id_space"] == offset
    docs = reduce(lambda a, b: a.unionByName(b), parts)
    if dedup:
        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("doc_id").desc())
        docs = docs.withColumn("_rn", F.row_number().over(w)).where("_rn = 1")
    one_shot = build_segments_partial(
        spark, docs, str(root / "one_shot"), n_shards=4, id_space=offset,
        orig_ids=docs.select("doc_id", F.col("url").alias("orig_id")),
    )
    assert chunked["n_docs"] == one_shot["n_docs"] == docs.count()
    assert (chunked["n_docs"] < offset) == dedup
    assert chunked["avgdl"] == one_shot["avgdl"]
    assert chunked["postings_per_shard"] == one_shot["postings_per_shard"]
    assert _decoded_index(spark, str(root / "chunked")) == _decoded_index(
        spark, str(root / "one_shot")
    )


def test_segment_phrase_matches_declarative(spark, documents, tmp_path_factory):
    """Positional index (store_positions=True): serving-path match_phrase
    must be rank-identical to the declarative bm25_phrase_topk for hot,
    rare, single-term, repeated-term, and absent phrases."""
    from flume_elasticsearch_2_spark.operators.topk import bm25_phrase_topk

    d = str(tmp_path_factory.mktemp("pidx") / "segidx")
    manifest = build_index(spark, documents, d, n_shards=4, store_positions=True)
    assert manifest["positions"] is True
    s = IndexSearcher(spark, d)
    for phrase in ["order fast", "scan a", "dup", "order order", "zzz nope"]:
        want = [
            (r.doc_id, r.score) for r in bm25_phrase_topk(documents, phrase, k=10).collect()
        ]
        got = [(r.doc_id, r.score) for r in s.search_phrase(phrase, k=10).collect()]
        assert got == want, phrase
        loc = [
            (int(r.doc_id), round(float(r.score), 6))
            for r in s.search_phrase_local(phrase, k=10).itertuples(index=False)
        ]
        assert loc == want, phrase
    assert [
        (r.doc_id, r.score) for r in s.search_phrase("order fast", k=10).collect()
    ], "hot phrase must be non-empty"


def test_phrase_requires_positional_index(searcher):
    with pytest.raises(ValueError, match="store_positions"):
        searcher.search_phrase("any phrase")


def test_positional_merge_byte_identical(spark, documents, tmp_path_factory):
    """Two positional half-corpus generations merged must equal the
    single-shot positional build — including the positions stream."""
    from flume_elasticsearch_2_spark.plans.merge import merge_indexes

    root = tmp_path_factory.mktemp("pmerge")
    id_space = documents.agg({"doc_id": "max"}).collect()[0][0] + 1
    a, b = str(root / "a"), str(root / "b")
    build_index(spark, documents.where("doc_id % 2 = 0"), a, n_shards=4,
                id_space=id_space, store_positions=True)
    build_index(spark, documents.where("doc_id % 2 = 1"), b, n_shards=4,
                id_space=id_space, store_positions=True)
    merged, full = str(root / "m"), str(root / "f")
    merge_indexes(spark, [a, b], merged)
    build_index(spark, documents, full, n_shards=4, id_space=id_space, store_positions=True)
    cols = ["shard", "term", "n", "cf", "doc_bytes", "tf_bytes", "pos_bytes"]
    m = {
        (r.shard, r.term): (r.n, r.cf, bytes(r.doc_bytes), bytes(r.tf_bytes), bytes(r.pos_bytes))
        for r in spark.read.parquet(f"{merged}/postings").select(cols).collect()
    }
    f = {
        (r.shard, r.term): (r.n, r.cf, bytes(r.doc_bytes), bytes(r.tf_bytes), bytes(r.pos_bytes))
        for r in spark.read.parquet(f"{full}/postings").select(cols).collect()
    }
    assert m == f


def test_merged_positional_index_answers_phrases(spark, documents, tmp_path_factory):
    """The merged manifest must propagate the positions flag, and phrase
    queries on the merged index must equal the single-shot positional build.
    A MIXED merge (one positional, one freqs-only generation) must strip
    positions consistently and refuse phrase queries."""
    from flume_elasticsearch_2_spark.plans.merge import merge_indexes

    root = tmp_path_factory.mktemp("pmerge2")
    id_space = documents.agg({"doc_id": "max"}).collect()[0][0] + 1
    a, b, c = str(root / "a"), str(root / "b"), str(root / "c")
    build_index(spark, documents.where("doc_id % 2 = 0"), a, n_shards=4,
                id_space=id_space, store_positions=True)
    build_index(spark, documents.where("doc_id % 2 = 1"), b, n_shards=4,
                id_space=id_space, store_positions=True)
    build_index(spark, documents.where("doc_id % 2 = 1"), c, n_shards=4,
                id_space=id_space, store_positions=False)
    merged, full = str(root / "m"), str(root / "f")
    m = merge_indexes(spark, [a, b], merged)
    assert m["positions"] is True
    build_index(spark, documents, full, n_shards=4, id_space=id_space, store_positions=True)
    sm, sf_ = IndexSearcher(spark, merged), IndexSearcher(spark, full)
    for phrase in ["order fast", "dup"]:
        got = [(r.doc_id, r.score) for r in sm.search_phrase(phrase, k=10).collect()]
        want = [(r.doc_id, r.score) for r in sf_.search_phrase(phrase, k=10).collect()]
        assert got == want and got, phrase
    mixed = str(root / "mx")
    mm = merge_indexes(spark, [a, c], mixed)
    assert mm["positions"] is False
    import pyspark.sql.functions as F

    stripped = spark.read.parquet(f"{mixed}/postings").agg(
        F.sum(F.length("pos_bytes")).alias("nb")
    ).collect()[0]
    assert int(stripped.nb) == 0, "mixed merge must strip positions consistently"
    with pytest.raises(ValueError, match="store_positions"):
        IndexSearcher(spark, mixed).search_phrase("order fast")


def test_randomized_corpus_pruned_vs_oracle(spark, tmp_path_factory):
    """Adversarial sweep: random Zipf-ish corpus (tiny vocab forces hot
    terms, empty docs, dup-heavy docs), 40 random queries — BMW-pruned
    serving path must match the brute-force NumPy oracle rank-identically."""
    import random

    rng = random.Random(2026)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(800):
        n = rng.choice([0, 1, 2, 5, 20, 60])
        # Zipf-ish: low-index words much more likely
        words = [vocab[min(int(rng.expovariate(0.15)), 29)] for _ in range(n)]
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("ridx") / "segidx")
    build_index(spark, docs, d, n_shards=4)
    s = IndexSearcher(spark, d)
    corpus = rows
    for qi in range(40):
        nq = rng.choice([1, 1, 2, 3, 4])
        q = " ".join(rng.choice(vocab + ["absent"]) for _ in range(nq))
        mode = rng.choice(["or", "and"])
        expected = brute_force_bm25(corpus, q, k=10, mode=mode)
        local = s.search_local(q, k=10, mode=mode, pruned=True)
        got = list(zip(local["doc_id"].tolist(), local["score"].tolist()))
        assert [g[0] for g in got] == [e[0] for e in expected], (qi, q, mode)
        for g, e in zip(got, expected):
            assert abs(g[1] - e[1]) < 1e-6, (qi, q, mode)


def test_build_tolerates_null_text(spark, tmp_path_factory):
    """NULL text (e.g. failed html extraction) must build as an empty doc,
    not crash the Arrow batch (pandas findall yields NaN for nulls)."""
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, None), (2, "beta gamma")], "doc_id long, text string"
    )
    d = str(tmp_path_factory.mktemp("nidx") / "segidx")
    manifest = build_index(spark, docs, d, n_shards=4)
    assert manifest["n_docs"] == 3
    s = IndexSearcher(spark, d)
    got = [(r.doc_id, r.score) for r in s.search("beta", k=10).collect()]
    assert [g[0] for g in got] == [0, 2] or [g[0] for g in got] == [2, 0]


def test_search_many_phrase_mode(spark, documents, tmp_path_factory):
    """Batched search_many with mode='phrase' is rank-identical per query to
    search_phrase (and or/and entries to search) in the SAME one-job batch;
    repeated-term and absent phrases included. Non-positional index raises."""
    d = str(tmp_path_factory.mktemp("mpidx") / "segidx")
    build_index(spark, documents, d, n_shards=4, store_positions=True)
    s = IndexSearcher(spark, d)
    batch = {
        "p_hot": ("order fast", "phrase"),
        "p_rep": ("order order", "phrase"),
        "p_absent": ("zzz nope", "phrase"),
        "q_or": ("dup batch scan", "or"),
        "q_and": ("join filter window", "and"),
    }
    got = s.search_many(batch, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r.query_id, []).append((r.doc_id, r.score))
    for qid, (q, mode) in batch.items():
        if mode == "phrase":
            exp = [(r.doc_id, r.score) for r in s.search_phrase(q, k=10).collect()]
        else:
            exp = [(r.doc_id, r.score) for r in s.search(q, k=10, mode=mode).collect()]
        assert by_qid.get(qid, []) == exp, qid
    assert by_qid["p_hot"], "hot phrase must return rows"


def test_true_block_max_decodes_fewer_blocks(spark, tmp_path_factory):
    """True block-max metadata (block_min_dl from encode time): on a long
    posting list with widely varying doc lengths, the (max_tf, min_dl) bound
    lets BMW skip high-dl blocks entirely, while the dl->0 bound (simulated
    by zeroing block_min_dl) must decode every block. Results identical."""
    import numpy as np

    from flume_elasticsearch_2_spark.plans.query_index import (
        _read_shard_tables,
        _score_shard,
    )

    n = 1500
    rows = [(i, "hot" + " pad" * (3 + i // 4)) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("bmw") / "idx")
    build_index(spark, df, d, n_shards=1)
    s = IndexSearcher(spark, d)
    kwargs = dict(
        weights={"hot": 1.0},
        dfreq=s.term_stats(["hot"]),
        n_docs=s.n_docs,
        avgdl=s.avgdl,
        id_space=s.id_space,
        n_shards=s.n_shards,
        k=10,
        mode="or",
        pruned=True,
    )
    pt, dt = _read_shard_tables(d, 0, ["hot"])
    assert len(pt) == 1 and int(pt["n"].iloc[0]) == n  # ~12 blocks of 128
    tight_c, loose_c = {}, {}
    tight = _score_shard(pt, dt, **kwargs, counters=tight_c)
    pt_loose = pt.copy()
    pt_loose["block_min_dl"] = pt_loose["block_min_dl"].apply(
        lambda a: np.zeros(len(a), dtype=np.int32)
    )
    loose = _score_shard(pt_loose, dt, **kwargs, counters=loose_c)
    assert tight.values.tolist() == loose.values.tolist()
    # top-10 = the 10 shortest docs (ids 0..9), all in block 0
    assert tight["doc_id"].tolist() == list(range(10))
    nblocks = (n + 127) // 128
    assert loose_c["blocks_decoded"] == nblocks
    assert tight_c["blocks_decoded"] < nblocks // 2, (tight_c, loose_c)


def test_min_should_match_rank_identical_and_semantics(spark, documents, searcher):
    """ES minimum_should_match: declarative, serving scatter, serving local
    and batched search_many agree; every result doc matches >= msm distinct
    query terms; msm=1 equals plain OR; msm > present terms is empty."""
    q = "dup batch scan small"
    for msm in (1, 2, 3):
        want = [
            (r.doc_id, r.score)
            for r in bm25_topk(documents, q, k=10, min_should_match=msm).collect()
        ]
        got = [
            (r.doc_id, r.score)
            for r in searcher.search(q, k=10, min_should_match=msm).collect()
        ]
        loc = [
            (int(r.doc_id), round(float(r.score), 6))
            for r in searcher.search_local(q, k=10, min_should_match=msm).itertuples(index=False)
        ]
        many = searcher.search_many({"m": (q, "or", msm)}, k=10).collect()
        assert got == want == loc == [(r.doc_id, r.score) for r in many], msm
        assert want, msm
    # msm=1 == plain OR
    assert [
        (r.doc_id, r.score) for r in searcher.search(q, k=10, min_should_match=1).collect()
    ] == [(r.doc_id, r.score) for r in searcher.search(q, k=10).collect()]
    # semantics: every hit matches >= 2 distinct terms (verified on raw text)
    from flume_elasticsearch_2_spark.functions.tokenizer import tokenize

    texts = {r.doc_id: set(tokenize(r.text)) for r in documents.collect()}
    hits = searcher.search(q, k=10, min_should_match=2).collect()
    for r in hits:
        assert len(texts[r.doc_id] & set(q.split())) >= 2
    # more terms required than exist in the index -> empty
    assert searcher.search("dup zzzznotaterm", k=10, min_should_match=2).count() == 0


def test_boosts_rank_identical_and_reorder(spark, documents, searcher):
    """Per-term boosts: declarative and serving paths agree; a strong boost
    actually reorders the top-k vs the unboosted query; boost=1 is a no-op."""
    q = "dup batch scan"
    boosts = {"dup": 0.2, "scan": 3.0}
    want = [(r.doc_id, r.score) for r in bm25_topk(documents, q, k=10, boosts=boosts).collect()]
    got = [(r.doc_id, r.score) for r in searcher.search(q, k=10, boosts=boosts).collect()]
    assert got == want and want
    plain = [(r.doc_id, r.score) for r in searcher.search(q, k=10).collect()]
    assert [d for d, _ in got] != [d for d, _ in plain], "boost must reorder"
    noop = [(r.doc_id, r.score) for r in searcher.search(q, k=10, boosts={"dup": 1.0}).collect()]
    assert noop == plain


@pytest.mark.parametrize(
    "query,mode,mn",
    [
        ("dup batch scan", "or", "slow"),
        ("batch small scan", "or", "slow window"),
        ("join filter window", "and", "dup"),
        ("spark", "or", "spark"),  # negative clause wipes out every match
    ],
)
def test_must_not_serving_rank_identical(documents, searcher, query, mode, mn):
    """ES bool must_not on the serving path == declarative path (ids dropped
    from the admitted set via doc-stream decode; scores untouched)."""
    got = [tuple(r) for r in searcher.search(query, k=10, mode=mode, must_not=mn).collect()]
    want = [tuple(r) for r in bm25_topk(documents, query, k=10, mode=mode, must_not=mn).collect()]
    assert got == want


@pytest.mark.parametrize(
    "query,mode",
    [
        ("dup batch scan", "or"),
        ("join filter window", "and"),
        ("dup", "or"),  # single present term -> dictionary df short-circuit
        ("zzzznotaterm", "or"),
    ],
)
def test_count_serving_equals_declarative(documents, searcher, query, mode):
    from flume_elasticsearch_2_spark.operators.topk import match_count

    got = searcher.count(query, mode=mode).collect()[0].n_matching
    want = match_count(documents, query, mode=mode).collect()[0].n_matching
    assert got == want


@pytest.mark.parametrize(
    "query,mode,cap",
    [
        ("dup batch scan", "or", 1),  # every active shard terminates
        ("dup batch scan", "or", 10),  # mixed
        ("dup batch scan", "or", 10**9),  # nothing terminates -> == _count
        ("join filter window", "and", 3),
        ("zzzznotaterm", "or", 5),  # absent term: (0, 0)
    ],
)
def test_count_terminated_serving_equals_declarative(
    documents, searcher, query, mode, cap
):
    """ES 1.4 terminate_after: serving (per-shard capped doc-stream decode)
    must agree with the declarative range-sharding-arithmetic twin on both
    the capped count and the terminated_early flag."""
    from flume_elasticsearch_2_spark.operators.topk import (
        match_count,
        match_count_terminated,
    )

    got = searcher.count_terminated(query, terminate_after=cap, mode=mode).collect()[0]
    want = match_count_terminated(
        documents, query, terminate_after=cap, n_shards=4, mode=mode
    ).collect()[0]
    assert (got.n_matching, got.terminated_early) == (
        want.n_matching,
        want.terminated_early,
    )
    if cap == 10**9:  # uncapped degenerates to the plain _count, flag clear
        plain = match_count(documents, query, mode=mode).collect()[0].n_matching
        assert got.n_matching == plain and got.terminated_early == 0


def test_count_terminated_rejects_bad_cap(documents, searcher):
    from flume_elasticsearch_2_spark.operators.topk import match_count_terminated

    with pytest.raises(ValueError, match="terminate_after"):
        match_count_terminated(documents, "dup", terminate_after=0, n_shards=4)
    with pytest.raises(ValueError, match="terminate_after"):
        searcher.count_terminated("dup", terminate_after=0)


# -- round-3 fixes: legacy-index reads, window cap, phrase key-space guard ----


def test_reads_index_without_block_min_dl(spark, index_dir, searcher, tmp_path_factory):
    """Forward-compat: an index written before the block_min_dl column
    existed must stay queryable — the read intersects the requested columns
    with the file schema and the scorer degrades to the dl->0 bound (still
    admissible, so results are identical)."""
    import shutil

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    old = str(tmp_path_factory.mktemp("oldidx") / "segidx")
    shutil.copytree(index_dir, old)
    man = json.load(open(f"{old}/manifest.json"))
    for shard in range(man["n_shards"]):
        part = f"{old}/postings/shard={shard}"
        tbl = pads.dataset(part, format="parquet").to_table()
        tbl = tbl.drop_columns(["block_min_dl"])
        shutil.rmtree(part)
        import os

        os.makedirs(part)
        pq.write_table(tbl, f"{part}/part-0.parquet")
    legacy = IndexSearcher(spark, old)
    for query, mode in ENGINE_QUERIES:
        want = [tuple(r) for r in searcher.search(query, k=10, mode=mode).collect()]
        got = [tuple(r) for r in legacy.search(query, k=10, mode=mode).collect()]
        assert got == want, (query, mode)


def test_scored_paging_enforces_max_result_window(searcher):
    """ES index.max_result_window on the SCORED serving path too (the sorted
    path already enforced it): from_+k > 10000 would heap that many entries
    on every shard."""
    with pytest.raises(ValueError, match="max_result_window"):
        searcher.search("dup batch scan", k=10, from_=9_995)
    with pytest.raises(ValueError, match="max_result_window"):
        searcher.search("dup", k=10_001)
    with pytest.raises(ValueError, match="non-negative"):
        searcher.search("dup", k=10, from_=-1)


def test_phrase_kernel_guards_candidate_key_space():
    """The (doc_idx * 2^40 + pos) int64 key is collision-free only below
    2^23 candidates per shard; beyond it the kernel must fail loudly, not
    silently corrupt the adjacency intersection."""
    import numpy as np
    import pandas as pd

    from flume_elasticsearch_2_spark.codec import encode_positions, encode_postings
    from flume_elasticsearch_2_spark.plans.query_index import _phrase_score_shard

    n = (1 << 23) + 8
    ids = np.arange(n, dtype=np.uint32)
    tfs = np.ones(n, dtype=np.uint32)
    enc = encode_postings(ids, tfs, np.full(n, 2, dtype=np.int64))
    pos_a = encode_positions(np.zeros(n, dtype=np.uint32), tfs)
    pos_b = encode_positions(np.ones(n, dtype=np.uint32), tfs)
    postings = pd.DataFrame(
        {
            "shard": [0, 0],
            "term": ["aa", "bb"],
            "n": [n, n],
            "doc_bytes": [enc.doc_bytes] * 2,
            "tf_bytes": [enc.tf_bytes] * 2,
            "pos_bytes": [pos_a, pos_b],
        }
    )
    docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "dl": np.full(n, 2.0)})
    with pytest.raises(ValueError, match="2\\^23"):
        _phrase_score_shard(
            postings,
            docs,
            q_terms=["aa", "bb"],
            idf=1.0,
            avgdl=2.0,
            id_space=n,
            n_shards=1,
            k=10,
        )


def test_scroll_export_pages_match_bruteforce(spark, searcher, documents, tmp_path_factory):
    """Scroll-style bulk export: page assignment == row_number over the
    ascending match-set ids (the 1.x scroll contract, rank-free), and it is
    IDENTICAL under a different shard count — paging is a function of the
    match set only, never of the physical layout."""
    from flume_elasticsearch_2_spark.operators.topk import corpus_tokens

    query, mode, psize = "batch small scan", "or", 25
    got = sorted(
        (r.page, r.doc_id) for r in searcher.scroll_export(query, mode, psize).collect()
    )
    terms = set(query.split())
    match_ids = sorted(
        r.doc_id
        for r in corpus_tokens(documents).where(f"term in {tuple(terms)}")
        .select("doc_id").distinct().collect()
    )
    want = sorted((i // psize, d) for i, d in enumerate(match_ids))
    assert got == want and got
    d2 = str(tmp_path_factory.mktemp("scroll2") / "segidx")
    build_index(spark, documents, d2, n_shards=7)
    got2 = sorted(
        (r.page, r.doc_id)
        for r in IndexSearcher(spark, d2).scroll_export(query, mode, psize).collect()
    )
    assert got2 == got


def test_scroll_export_edge_cases(searcher):
    assert searcher.scroll_export("zzzznotaterm", "or", 10).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        searcher.scroll_export("dup", "or", 0)


def test_manifest_bytes_are_reproducible(spark, tmp_path_factory):
    """Two builds of one corpus, and a merge of each, write byte-identical
    manifest.json files: the build wall time is returned, not committed."""
    from flume_elasticsearch_2_spark.plans.merge import merge_indexes

    rows = [(i, "alpha beta" + " gamma" * (i % 3)) for i in range(64)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = tmp_path_factory.mktemp("repro")
    blobs = []
    for rep in range(2):
        built = build_index(spark, docs, str(root / f"b{rep}"), n_shards=2)
        merged = merge_indexes(spark, [str(root / f"b{rep}")], str(root / f"m{rep}"))
        assert built["built_wall_s"] >= 0 and merged["built_wall_s"] >= 0
        blobs.append([(root / f"{k}{rep}" / "manifest.json").read_bytes() for k in "bm"])
    assert blobs[0] == blobs[1]
    assert b"built_wall_s" not in blobs[0][0]


def test_run_merge_encoder_carries_groups_across_batches(tmp_path):
    """The run-merge encoder gives the same rows whether a partition's
    (shard, term) groups arrive in one Arrow batch or cut at every row,
    including interleaved runs and positional runs. The docs table is the
    liveness set: with every doc present the rows are those of an encoder
    without docs table (but for ``block_min_dl``); postings whose docs are
    missing are dropped with their positions, exactly as if no run held
    them, and a group whose docs are all missing emits no row."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flume_elasticsearch_2_spark.plans.build_index import (
        PARTIAL_COLS,
        _make_run_merge_encoder,
    )

    rng = np.random.default_rng(3)
    runs = []  # (shard, term, shard-local ids, tfs, with positions)
    for shard in (0, 1):
        for term in ("a", "b", "c"):
            ids = np.unique(rng.integers(0, 500, size=40)).astype(np.uint32)
            run = rng.integers(0, 3, size=ids.size)  # 3 interleaved runs
            for r in range(3):
                sel = ids[run == r]
                tfs = rng.integers(1, 4, size=sel.size).astype(np.uint32)
                runs.append((shard, term, sel, tfs, term != "c"))

    def encode(docs_dir, runs, dead=frozenset()):
        rows = []
        for shard, term, ids, tfs, with_pos in runs:
            keep = ~np.isin(ids.astype(np.int64) + shard * 500, list(dead))
            ids, tfs = ids[keep], tfs[keep]
            pos = np.concatenate(
                [np.arange(t, dtype=np.uint32) for t in tfs]
            ) if with_pos and ids.size else np.empty(0, np.uint32)
            if ids.size:
                rows.append((shard, term, int(ids[0]) + shard * 500,
                             ids.tobytes(), tfs.tobytes(), pos.tobytes()))
        rows.sort(key=lambda r: r[:3])
        cols = list(zip(*rows))
        batch = pa.RecordBatch.from_arrays(
            [pa.array(cols[0], pa.int32()), pa.array(cols[1]), pa.array(cols[2], pa.int64()),
             *(pa.array(c, pa.binary()) for c in cols[3:])],
            names=PARTIAL_COLS,
        )
        enc = _make_run_merge_encoder(1000, 2, docs_dir=docs_dir)
        whole = pa.Table.from_batches(list(enc(iter([batch]))))
        cut = pa.Table.from_batches(
            list(enc(iter([batch.slice(i, 1) for i in range(batch.num_rows)])))
        )
        assert whole.equals(cut)
        return whole

    whole = encode(None, runs)
    assert whole.num_rows == 6
    assert whole.column("pos_bytes").to_pylist()[2::3] == [b"", b""]  # term "c"

    def docs_dir(name, ids):
        for shard in (0, 1):
            sel = ids[(ids >= shard * 500) & (ids < (shard + 1) * 500)]
            (tmp_path / name / f"shard={shard}").mkdir(parents=True)
            pq.write_table(pa.table({"doc_id": sel, "dl": 3 + sel % 7}),
                           tmp_path / name / f"shard={shard}" / "part-0.parquet")
        return str(tmp_path / name)

    all_docs = docs_dir("all", np.arange(1000))
    present = encode(all_docs, runs)

    def no_min_dl(t):
        return t.select([c for c in t.column_names if c != "block_min_dl"])

    assert no_min_dl(present).equals(no_min_dl(whole))
    dead_group = np.arange(100, 140, 3, dtype=np.uint32)  # shard 1, term "d"
    runs_d = runs + [(1, "d", dead_group, np.full(dead_group.size, 2, np.uint32), True)]
    dead = set(rng.choice(1000, size=200, replace=False).tolist()) | set(
        (dead_group.astype(np.int64) + 500).tolist()
    )
    live_docs = docs_dir("live", np.setdiff1d(np.arange(1000), sorted(dead)))
    got = encode(live_docs, runs_d)
    assert got.column("term").to_pylist() == ["a", "b", "c"] * 2
    assert got.equals(encode(all_docs, runs, dead))
    assert sum(got.column("n").to_pylist()) < sum(present.column("n").to_pylist())
