"""End-to-end webpages → inverted-index pipeline (the north_star path).

Re-expresses the reference Flume agent topology (source → channel → sink,
/root/reference/conf/flume-elasticsearch.conf:1-31) as one Spark job over
the Iceberg-shaped webpages table (url, warc_ts, html, text, lang):

    read → extract_text (P2 regex mapping, byte-identical invariant)
         → dedup by url last-write-wins (P6, the ES setId(IR_SID) upsert,
           /root/reference/elasticsearch-sink/.../ElasticsearchSink.java:67)
         → classify (P7: per-doc routing label; `lang` column here)
         → deterministic doc ids → tokenize → posting build → segments
           (I1-I7, plans/build_index.py)

Per-stage metrics are emitted in the same shape as the reference's Flume
HTTP monitoring counters (FileSource.java:195-196 EventAcceptedCount,
ElasticsearchSink.java:68-78 drain counters; rendered by sankey.html:52-76)
so the reference's Sankey viz could plot them unchanged: a metrics.json of
``{"SOURCE.r1": {...}, "CHANNEL.c1": {...}, "SINK.s1": {...}}``.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import extract_text_col
from ..operators.dedup import dedup_latest_by_key
from .build_index import assign_doc_ids, build_segments_partial


def prepare_webpages(
    pages: DataFrame,
    *,
    use_extracted_text: bool = True,
    dedup: bool = True,
    check_invariant: bool = False,
) -> DataFrame:
    """Extract + dedup + classify: the reference interceptor-chain transforms.

    Returns (url, warc_ts, text, lang, doc_class). With
    ``check_invariant=True`` an extra boolean column ``text_matches`` carries
    the per-row byte-identity check ``extract_text(html) == text``
    (BASELINE.json input_hint invariant) for audit counting.
    """
    extracted = extract_text_col("html")
    out = pages.withColumn("_text", extracted if use_extracted_text else F.col("text"))
    if check_invariant:
        out = out.withColumn("text_matches", extracted.eqNullSafe(F.col("text")))
    # html is dead weight past this point — drop it BEFORE the dedup window so
    # the shuffle+sort moves ~1KB text rows, not 3.5KB text+html rows (the
    # binary column tripled the exchange payload and pushed 32-way sorts into
    # spill territory; column pruning can't help once the window needs the row)
    out = out.drop("html", "text")
    if dedup:
        # tie on the text fingerprint so two rows with identical (url, ts)
        # but different payloads have a DETERMINISTIC winner across reruns
        out = (
            out.withColumn("_tfp", F.md5(F.col("_text")))
            .transform(lambda d: dedup_latest_by_key(d, "url", "warc_ts", tie_col="_tfp"))
            .drop("_tfp")
        )
    # P7 classification: route by language family (the conf's static
    # index/type label generalized to a per-doc class; conf:19)
    out = out.withColumn(
        "doc_class",
        F.when(F.col("lang").isin("en", "fr", "es", "de"), F.lit("latin")).otherwise(
            F.when(F.col("lang") == "zh", F.lit("cjk")).otherwise(F.lit("other"))
        ),
    )
    keep = ["url", "warc_ts", "_text", "lang", "doc_class"] + (
        ["text_matches"] if check_invariant else []
    )
    return out.select(*[F.col(c).alias("text" if c == "_text" else c) for c in keep])


def index_webpages(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    *,
    n_shards: int = 8,
    use_extracted_text: bool = True,
    dedup: bool = True,
    metrics_path: str | None = None,
) -> dict[str, Any]:
    """Full pipeline; returns the manifest augmented with stage metrics.

    One cache point (the prepared corpus feeds doc-id assignment and the
    packed-run build), one wide shuffle (the (shard, term) exchange inside
    ``build_segments_partial``).
    """
    from pyspark import StorageLevel

    t0 = time.time()
    n_raw = pages.count()
    # one extract+dedup pass, cached: id assignment needs two passes over the
    # prepared corpus (per-partition counts, then the window) and without the
    # persist each would re-run the html-regex + dedup-window subtree —
    # profiled as the dominant (and anti-scaling) cost at 32 cores.
    prepared = prepare_webpages(
        pages, use_extracted_text=use_extracted_text, dedup=dedup
    ).persist(StorageLevel.MEMORY_AND_DISK)
    with_ids = assign_doc_ids(prepared, orig_col="url").persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = with_ids.count()
    prepared.unpersist()
    t_prepare = time.time()

    orig = with_ids.select("doc_id", F.col("url").alias("orig_id"))
    # assign_doc_ids gives dense ids 0..n_docs-1, so the id space is known
    # without a max() pass over the corpus
    manifest = build_segments_partial(
        spark, with_ids, index_dir, n_shards, orig_ids=orig, id_col="doc_id",
        text_col="text", id_space=max(n_docs, 1),
    )
    with_ids.unpersist()
    t_done = time.time()

    # Flume-monitoring-shaped counters (M1/M2/M3): SOURCE=read+transforms,
    # CHANNEL=the (shard,term) exchange, SINK=segment write.
    metrics = {
        "SOURCE.webpages": {
            "Type": "SOURCE",
            "EventReceivedCount": n_raw,
            "EventAcceptedCount": n_docs,
            "DedupDroppedCount": n_raw - n_docs,
            "StageWallMs": int((t_prepare - t0) * 1000),
        },
        "CHANNEL.shuffle": {
            "Type": "CHANNEL",
            "EventPutSuccessCount": n_docs,
            "EventTakeSuccessCount": n_docs,
        },
        "SINK.segments": {
            "Type": "SINK",
            "EventDrainSuccessCount": n_docs,
            "BatchCompleteCount": manifest["n_shards"],
            "StageWallMs": int((t_done - t_prepare) * 1000),
        },
    }
    manifest["metrics"] = metrics
    manifest["docs_per_sec"] = round(n_docs / max(t_done - t0, 1e-9), 2)
    if metrics_path:
        os.makedirs(os.path.dirname(metrics_path) or ".", exist_ok=True)
        with open(metrics_path, "w") as fh:
            json.dump(metrics, fh, indent=1)
    return manifest


def invariant_report(pages: DataFrame) -> dict[str, int]:
    """Count rows violating the byte-identity invariant (input_hint):
    ``extract_text(html) == text`` per url. Returns counts, never raises —
    the caller decides whether violations abort the build."""
    agg = pages.select(
        extract_text_col("html").eqNullSafe(F.col("text")).alias("ok")
    ).agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("violations"),
    )
    row = agg.collect()[0]
    return {"total": int(row["total"]), "violations": int(row["violations"] or 0)}
