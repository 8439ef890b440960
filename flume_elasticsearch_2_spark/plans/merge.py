"""Segment-generation merge (SURVEY.md §2.4 I5): the Lucene/ES background
segment merge rebuilt as one Spark job.

The reference delegates flush-then-merge to ES (delegation site
/root/reference/elasticsearch-sink/.../ElasticsearchSink.java:66-67; Lucene
4.7 TieredMergePolicy semantics). Here an index *generation* is a committed
index directory (manifest-gated, I7); merging generations built over the
SAME doc-id space and sharding config (``n_shards``, ``id_space`` — pin the
latter via ``build_index(..., id_space=...)``) is:

    read postings of every generation
      -> decode each term's blocks back to a packed run (NumPy, no Python
         loops per posting)
      -> shuffle runs by (shard, term)      [the only exchange]
      -> run-merge encoder (same kernel as the partial-postings build)
      -> write merged segments + union'd docs + recomputed terms + manifest

Doc ids are disjoint across generations (generations come from disjoint
input chunks of one id space — the streaming/chunked ingest contract), but
a *key* (url) may recur when a page is re-crawled: ``dedup_key`` applies the
ES id-keyed upsert (``setId``, ElasticsearchSink.java:67) at merge time as
Lucene-style tombstones — newest generation wins per key, superseded doc
ids are masked out of every posting run during decode. Identical query
results to a single-shot build over the (deduped) union corpus, by test.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fscommit import COMMIT_FS
from ..codec import BLOCK_SIZE, decode_positions, svb_decode
from .build_index import (
    PARTIAL_SCHEMA,
    POSTINGS_SCHEMA,
    _check_shard_span,
    _fresh_tmp,
    _make_run_merge_encoder,
    shard_start,
    write_manifest,
)


def _decode_to_runs(
    id_space: int,
    n_shards: int,
    dead_ids: np.ndarray | None = None,
    keep_positions: bool = True,
):
    """mapInPandas body: committed postings rows -> packed runs
    (shard, term, run_min, ids, tfs) with shard-local absolute uint32 ids.

    ``dead_ids`` (sorted global doc ids) are Lucene-style tombstones: their
    postings are dropped during decode, so the re-encode never sees deleted
    docs — the id-keyed overwrite ES gave the reference sink (``setId``,
    ElasticsearchSink.java:67) applied at segment-merge time."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for row in pdf.itertuples(index=False):
                n = int(row.n)
                if n == 0:
                    continue  # degenerate empty posting row: nothing to merge
                deltas = svb_decode(row.doc_bytes, n).astype(np.uint64)
                ids = np.cumsum(deltas).astype(np.uint32)  # local absolute
                tfs = svb_decode(row.tf_bytes, n)
                # positions (indexes built with store_positions; absent or
                # empty column in freqs-only indexes)
                pos_buf = (getattr(row, "pos_bytes", b"") or b"") if keep_positions else b""
                pos = decode_positions(pos_buf, tfs) if len(pos_buf) else None
                shard = int(row.shard)
                base = shard_start(shard, id_space, n_shards)
                if dead_ids is not None and len(dead_ids):
                    lo = np.searchsorted(dead_ids, base)
                    hi = np.searchsorted(dead_ids, shard_start(shard + 1, id_space, n_shards))
                    if hi > lo:
                        dead_local = (dead_ids[lo:hi] - base).astype(np.uint32)
                        keep = ~np.isin(ids, dead_local)
                        if not keep.all():
                            if pos is not None:
                                # drop the masked postings' position segments
                                bounds = np.concatenate(
                                    [[0], np.cumsum(tfs.astype(np.int64))]
                                )
                                pos = np.concatenate(
                                    [
                                        pos[bounds[i] : bounds[i + 1]]
                                        for i in np.flatnonzero(keep)
                                    ]
                                ) if keep.any() else pos[:0]
                            ids, tfs = ids[keep], tfs[keep]
                            if len(ids) == 0:
                                continue
                rows.append(
                    (
                        shard,
                        row.term,
                        int(base + ids[0]),
                        ids.tobytes(),
                        tfs.tobytes(),
                        pos.astype(np.uint32).tobytes() if pos is not None else b"",
                    )
                )
            yield pd.DataFrame(
                rows, columns=["shard", "term", "run_min", "ids", "tfs", "pos"]
            )

    return decode


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    dedup_key: str | None = None,
    max_tombstones: int = 10_000_000,
    delete_ids=None,
) -> dict[str, Any]:
    """Merge committed index generations into one index at ``out_dir``.

    ``index_dirs`` are ordered oldest -> newest. With ``dedup_key`` (e.g.
    ``"url"``), a key present in several generations keeps only its newest
    generation's doc — the ES id-keyed upsert (``setId(IR_SID)`` overwrite,
    ElasticsearchSink.java:67) realized as Lucene-style tombstones: the
    superseded doc ids are masked out of every posting run during decode and
    dropped from the docs table, and global stats/df are recomputed from the
    survivors. Without ``dedup_key`` generations must have disjoint doc ids
    (the chunked/streaming ingest contract).

    Scale note: the tombstone set is shipped to executors as a sorted int64
    array inside the task closure (8 B/id) — right for the expected regime
    where overwrites are a small fraction of the corpus. If a workload ever
    tombstones a large fraction, replace the closure array with a per-shard
    anti-join on the runs; the decode kernel is the only touch point.
    ``max_tombstones`` enforces that assumption: the set is COUNTED before
    it is ever collected, and a re-crawl-heavy merge that exceeds the cap
    fails loudly (instead of exhausting driver memory) with the anti-join
    route named in the error.

    ``delete_ids`` (ints) are EXTERNAL tombstones — the ES delete(-by-query)
    analog (see :func:`delete_by_query`): those docs are dropped from the
    docs table (broadcast anti-join, never an IN-list literal) and masked
    out of every posting run, and stats/df recompute from the survivors.
    Composes with ``dedup_key``; the same ``max_tombstones`` cap applies to
    the combined set."""
    t0 = time.time()
    manifests = []
    for d in index_dirs:
        with open(os.path.join(d, "manifest.json")) as fh:
            manifests.append(json.load(fh))
    n_shards = {int(m["n_shards"]) for m in manifests}
    id_spaces = {int(m["id_space"]) for m in manifests}
    if len(n_shards) != 1 or len(id_spaces) != 1:
        raise ValueError(
            "generations must share n_shards and id_space to merge per (shard, term); "
            f"got n_shards={sorted(n_shards)} id_space={sorted(id_spaces)} — "
            "pin id_space at build time (build_index(..., id_space=...))"
        )
    n_shards_v, id_space = n_shards.pop(), id_spaces.pop()
    _check_shard_span(id_space, n_shards_v)

    tmp = _fresh_tmp(out_dir)

    # --- docs: union; with dedup_key, newest generation wins per key -------
    docs = spark.read.parquet(f"{index_dirs[0]}/docs").withColumn("_gen", F.lit(0))
    for i, d in enumerate(index_dirs[1:], start=1):
        docs = docs.unionByName(
            spark.read.parquet(f"{d}/docs").withColumn("_gen", F.lit(i)),
            allowMissingColumns=True,
        )
    dead_ids: np.ndarray | None = None
    if dedup_key is not None:
        if dedup_key not in docs.columns:
            raise ValueError(f"dedup_key {dedup_key!r} not in docs columns {docs.columns}")
        from pyspark.sql.window import Window

        w = Window.partitionBy(dedup_key).orderBy(
            F.col("_gen").desc(), F.col("doc_id").desc()
        )
        # NULL keys never supersede each other: a generation built without
        # the key column (unionByName fills NULL) or a legitimately-null key
        # must not collapse into one "duplicate group" and mass-tombstone
        docs = docs.withColumn(
            "_rn",
            F.when(F.col(dedup_key).isNull(), F.lit(1)).otherwise(F.row_number().over(w)),
        ).persist()
        n_dead = docs.where(F.col("_rn") > 1).count()
        if n_dead > max_tombstones:
            raise ValueError(
                f"{n_dead} tombstoned docs exceed max_tombstones={max_tombstones}: "
                "the closure-array tombstone path assumes overwrites are a small "
                "fraction of the corpus; for re-crawl-heavy merges switch the "
                "decode stage to a per-shard anti-join on the runs (see docstring) "
                "or raise max_tombstones explicitly"
            )
        dead_rows = docs.where(F.col("_rn") > 1).select("doc_id").collect()
        dead_ids = np.sort(np.array([r["doc_id"] for r in dead_rows], dtype=np.int64))
        docs_keep = docs.where(F.col("_rn") == 1).drop("_rn", "_gen")
    else:
        docs = docs.persist()
        docs_keep = docs.drop("_gen")
    if delete_ids is not None:
        ext = np.sort(np.unique(np.asarray(list(delete_ids), dtype=np.int64)))
        combined = ext if dead_ids is None else np.union1d(dead_ids, ext)
        if len(combined) > max_tombstones:
            raise ValueError(
                f"{len(combined)} tombstoned docs (dedup + delete_ids) exceed "
                f"max_tombstones={max_tombstones}; see docstring for the "
                "per-shard anti-join route"
            )
        dead_ids = combined
        del_df = spark.createDataFrame([(int(i),) for i in ext], "doc_id long")
        docs_keep = docs_keep.join(F.broadcast(del_df), "doc_id", "left_anti")
    stats = docs_keep.agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["a"])
    docs_keep.repartition(n_shards_v, "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(f"{tmp}/docs")
    docs.unpersist()

    # --- postings: decode to runs, one (shard, term) exchange, re-encode ---
    # the merged index is positional only if EVERY generation is: a mixed
    # merge strips positions consistently (silent part-positional indexes
    # would crash phrase decode); allowMissingColumns covers pre-positions
    # generations whose postings lack the pos_bytes column entirely
    merged_positional = all(bool(m.get("positions")) for m in manifests)
    postings = spark.read.parquet(f"{index_dirs[0]}/postings")
    for d in index_dirs[1:]:
        postings = postings.unionByName(
            spark.read.parquet(f"{d}/postings"), allowMissingColumns=True
        )
    nparts = max(n_shards_v, 2 * spark.sparkContext.defaultParallelism)
    merged = (
        postings.mapInPandas(
            _decode_to_runs(id_space, n_shards_v, dead_ids, keep_positions=merged_positional),
            PARTIAL_SCHEMA,
        )
        .repartition(nparts, "shard", "term")
        .sortWithinPartitions("shard", "term", "run_min")
        .mapInArrow(
            _make_run_merge_encoder(id_space, n_shards_v, docs_dir=f"{tmp}/docs"),
            POSTINGS_SCHEMA,
        )
    )
    (
        merged.repartition(n_shards_v, "shard")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{tmp}/postings")
    )

    terms_df = (
        spark.read.parquet(f"{tmp}/postings")
        .groupBy("term")
        .agg(F.sum("n").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
    )
    terms_df.coalesce(max(1, n_shards_v // 4)).write.mode("overwrite").parquet(f"{tmp}/terms")

    manifest = {
        "format_version": 1,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "id_space": id_space,
        "n_shards": n_shards_v,
        "block_size": BLOCK_SIZE,
        "positions": merged_positional,
        "merged_generations": len(index_dirs),
        "tombstoned_docs": int(len(dead_ids)) if dead_ids is not None else 0,
    }
    manifest = write_manifest(tmp, manifest, t0)
    COMMIT_FS.publish(tmp, out_dir)
    return manifest


def delete_by_query(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    query: str,
    mode: str = "or",
    max_deletes: int = 10_000_000,
) -> dict[str, Any]:
    """ES 1.x ``_delete_by_query`` + forced merge: docs matching the
    analyzed query are tombstoned and the index is rewritten without them —
    postings masked, stats/df recomputed from survivors, so the result is
    bit-equivalent to an index built on the corpus minus the matches
    (pinned by tests against a from-scratch rebuild AND a DuckDB oracle).

    ES marks deletions live and reclaims them at merge; this API performs
    the merge immediately (the query contract is identical, and immutable
    segments + atomic manifest swap are this engine's visibility model).

    Scale shape: the match set is computed per shard from postings DOC
    streams (tf never read) as a DataFrame, COUNTED before collection
    (``max_deletes`` bounds driver memory loudly), then flows through
    :func:`merge_indexes`'s external-tombstone path (broadcast anti-join on
    docs, closure-array mask on the run decode)."""
    from .query_index import IndexSearcher

    searcher = IndexSearcher(spark, index_dir)
    ids_df = searcher.matching_ids(query, mode=mode)
    n = ids_df.count()
    if n > max_deletes:
        raise ValueError(
            f"{n} matching docs exceed max_deletes={max_deletes}: "
            "delete in narrower batches or raise the cap explicitly"
        )
    ids = [r["doc_id"] for r in ids_df.collect()]
    manifest = merge_indexes(
        spark, [index_dir], out_dir, delete_ids=ids, max_tombstones=max_deletes
    )
    manifest["deleted_docs"] = int(n)
    return manifest
