"""Chunked, resumable index build (SURVEY.md §7 step 5, FIXTURES.md §5) on
the one build path (packed runs + run-merge encoder, ``build_index.py``).

* **Stage 1 (expensive, checkpointed):** input files are grouped into
  deterministic chunks (sorted path order). Per not-yet-done chunk: read →
  assign deterministic doc ids → tokenize ONCE into PARTIAL_SCHEMA packed
  runs over chunk-local ids (one shard spanning the chunk; doc lengths ride
  along as sentinel runs) → write ``runs`` and ``docmeta`` (global doc_id,
  key, order col) under ``work_dir/…/chunk=<id>`` → commit a lineage
  record. A killed job redoes at most one chunk; committed chunks are never
  re-tokenized. Chunk-local ids keep staged runs valid before the final id
  space (the sum of all chunks' doc counts) is known.
* **Stage 2 (idempotent):** one ``mapInArrow`` pass rebases the staged runs
  into the final frame (chunk offset + local id, cut at the final shard
  boundaries); optional last-write-wins dedup by key (the ES
  ``setId(IR_SID)`` upsert semantics, ElasticsearchSink.java:67) picks the
  docs table's rows and the run-merge encoder drops the losers' postings;
  then the one-shot build's tail → atomic manifest commit.

At 10^12-doc scale stage 1 is the CPU-bound part (tokenization) and runs
once per chunk ever; stage 2 is shuffle-bound and restartable wholesale.
Doc-id determinism: chunk offsets come from lineage-recorded doc counts in
chunk order, local ids from hash-partitioned keyed row_number — the same
corpus yields the same ids at any parallelism (tested).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build_index import (
    PARTIAL_COLS,
    PARTIAL_SCHEMA,
    _check_shard_span,
    _make_partial_builder,
    _publish_partials,
    _shard_bases,
    _u32_binary,
    _u32_runs,
    assign_doc_ids,
)
from .lineage import LineageLog


def plan_chunks(input_dir: str, files_per_chunk: int = 8) -> list[dict[str, Any]]:
    """Deterministic chunk plan over a parquet directory."""
    files = sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    chunks = []
    for i in range(0, len(files), files_per_chunk):
        group = files[i : i + files_per_chunk]
        fp = ";".join(
            f"{os.path.basename(p)}:{os.path.getsize(p)}:{os.stat(p).st_mtime_ns}"
            for p in group
        )  # size+mtime: an in-place same-size rewrite must invalidate (§8.6)
        chunks.append({"chunk_id": f"{i // files_per_chunk:05d}", "files": group, "fingerprint": fp})
    return chunks


def _make_run_rebaser(chunk_offset: np.ndarray, id_space: int, n_shards: int):
    """mapInArrow body: staged runs (PARTIAL_SCHEMA over chunk-local ids in
    one shard, led by their ``chunk`` index) -> PARTIAL_SCHEMA runs in the
    final frame. A posting's global id is its chunk's lineage offset plus
    its local id; each run is cut wherever the final shard changes, its ids
    made shard-local and its ``run_min`` set to its first global id.
    Doc-length runs are rebased the same way. Staged runs are freqs-only,
    so the output carries no positions."""

    def rebase(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            local, per_run = _u32_runs(batch.column("ids"))
            tfs, _ = _u32_runs(batch.column("tfs"))
            run = np.repeat(np.arange(batch.num_rows), per_run)
            gid = local.astype(np.int64) + chunk_offset[batch.column("chunk").to_numpy()][run]
            shard = gid * n_shards // id_space
            new_run = (np.diff(run, prepend=-1) != 0) | (np.diff(shard, prepend=-1) != 0)
            cut = np.flatnonzero(new_run)
            offsets = np.append(cut, gid.size)
            bases = _shard_bases(shard[cut], id_space, n_shards)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(shard[cut].astype(np.int32)),
                    batch.column("term").take(run[cut]),
                    pa.array(gid[cut]),
                    _u32_binary(offsets, gid - np.repeat(bases, np.diff(offsets))),
                    _u32_binary(offsets, tfs),
                    _u32_binary(np.zeros(cut.size + 1, np.int64), np.empty(0, np.uint32)),
                ],
                names=PARTIAL_COLS,
            )

    return rebase


def _counting(build, counter):
    """``build`` that first adds each input batch's row count to the
    ``counter`` accumulator: it counts exactly the docs tokenized."""

    def counted(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            counter.add(batch.num_rows)
            yield from build(iter([batch]))

    return counted


def build_index_chunked(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    work_dir: str,
    key_col: str = "url",
    order_col: str = "warc_ts",
    text_col: str = "text",
    n_shards: int = 8,
    files_per_chunk: int = 8,
    dedup: bool = True,
    fail_after_chunks: int | None = None,
    tokenize_counter=None,
) -> dict[str, Any]:
    """Resumable build. ``fail_after_chunks``/``tokenize_counter`` are test
    hooks (injected failure; accumulator counting tokenized docs)."""
    log = LineageLog(os.path.join(work_dir, "lineage"))
    chunks = plan_chunks(input_dir, files_per_chunk)
    existing = log.load()

    offset = 0
    n_processed = 0
    chunk_offset = np.zeros(len(chunks), dtype=np.int64)  # by chunk index
    for ch in chunks:
        cid, fp = ch["chunk_id"], ch["fingerprint"]
        chunk_offset[int(cid)] = offset
        rec = existing.get(cid)
        # staged output is reusable only if it exists and both the content
        # fingerprint and the offset match: docmeta holds global ids, which
        # shift when an earlier chunk's doc count changes
        if (
            rec
            and rec.get("fingerprint") == fp
            and int(rec.get("offset", -1)) == offset
            and os.path.isdir(f"{work_dir}/runs/chunk={cid}")
        ):
            offset += int(rec["n_docs"])  # committed: reuse staged output
            continue
        t0 = time.time()
        raw = spark.read.parquet(*ch["files"])
        with_ids = assign_doc_ids(raw, orig_col=key_col, tie_cols=[order_col]).persist()
        n_docs = with_ids.count()
        build = _make_partial_builder(n_docs, 1, "doc_id", "text")
        if tokenize_counter is not None:
            build = _counting(build, tokenize_counter)
        with_ids.select(
            F.col("doc_id").cast("long"), F.col(text_col).alias("text")
        ).mapInArrow(build, PARTIAL_SCHEMA).write.mode("overwrite").parquet(
            f"{work_dir}/runs/chunk={cid}"
        )
        with_ids.select(
            (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
            F.col(key_col).alias("key"),
            F.col(order_col).alias("ord"),
        ).write.mode("overwrite").parquet(f"{work_dir}/docmeta/chunk={cid}")
        with_ids.unpersist()
        log.commit(
            cid,
            fingerprint=fp,
            offset=offset,
            n_docs=n_docs,
            wall_ms=int((time.time() - t0) * 1000),
        )
        offset += n_docs
        n_processed += 1
        if fail_after_chunks is not None and n_processed >= fail_after_chunks:
            raise RuntimeError(f"injected failure after {n_processed} chunks")

    # ---- stage 2: rebase + global dedup + segment build (idempotent) ------
    # read ONLY the planned chunks: stale chunk=<id> dirs from a previous
    # run with a different plan must not leak ghost documents into the index
    t0 = time.time()
    id_space = offset
    _check_shard_span(id_space, n_shards)
    partials = (
        spark.read.option("basePath", f"{work_dir}/runs")
        .parquet(*[f"{work_dir}/runs/chunk={c['chunk_id']}" for c in chunks])
        .select(F.col("chunk").cast("long").alias("chunk"), *PARTIAL_COLS)
        .mapInArrow(_make_run_rebaser(chunk_offset, id_space, n_shards), PARTIAL_SCHEMA)
    )
    meta = spark.read.parquet(
        *[f"{work_dir}/docmeta/chunk={c['chunk_id']}" for c in chunks]
    )
    if dedup:
        from pyspark.sql.window import Window

        w = Window.partitionBy("key").orderBy(F.col("ord").desc(), F.col("doc_id").desc())
        meta = meta.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    orig = meta.select("doc_id", F.col("key").alias("orig_id"))
    manifest = _publish_partials(spark, partials, index_dir, n_shards, id_space, orig, False, t0)
    manifest["chunks"] = len(chunks)
    return manifest
