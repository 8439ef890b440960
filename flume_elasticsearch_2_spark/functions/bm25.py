"""Exact BM25 scoring (SURVEY.md §2.5 Q4).

Lucene-BM25 formula with k1=1.2, b=0.75 (Robertson & Zaragoza 2009; the
contract pinned by BASELINE.json north_rule):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, t) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Unlike Lucene we use exact float64 doc lengths (no 1-byte norm quantization,
SURVEY §2.5 Q4) so Spark, NumPy oracle, and DuckDB SQL oracle agree to 1e-9.
This module holds the constants and the Spark Column form (JVM, codegen);
the segment query path and the oracles spell the same formula inline.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def bm25_col(
    tf: Column, df: Column, dl: Column, n_docs: Column, avgdl: Column, k1: float = K1, b: float = B
) -> Column:
    """JVM-side BM25 partial-score column (whole-stage codegen, no UDF)."""
    tfd = tf.cast("double")
    idf = F.log1p((n_docs.cast("double") - df.cast("double") + F.lit(0.5)) / (df.cast("double") + F.lit(0.5)))
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / avgdl.cast("double"))
    return idf * tfd * F.lit(k1 + 1.0) / (tfd + norm)
