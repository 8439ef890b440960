"""Seeded query mixes and an exact BM25 scorer that checks the engine.

The scorer shares only the analyzer and the BM25 constants with the engine:
no codec, no block-max pruning, no Parquet. It scores every document that
holds a query term, in float64.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from flume_elasticsearch_2_spark.functions.bm25 import B, K1
from flume_elasticsearch_2_spark.functions.tokenizer import tokenize

# |rounded - exact| for a score the engine rounds half-up to 6 decimals,
# plus float64 summation-order slack
SCORE_TOL = 5e-7 + 1e-9
# exact scores closer than this count as tied (float64 summation-order slack)
TIE_EPS = 1e-9


def query_mix(df: pd.Series, n: int, seed: int, bands: tuple[str, ...]) -> list[tuple[str, str]]:
    """``n`` queries drawn from df bands of the term dictionary ``df`` (term
    -> doc freq): hot = top 5%, mid = next 45%, rare = bottom half.

    The shape of query ``i`` is fixed, so every seed gets the same mix: its
    band is ``bands[i % len(bands)]``, it has 1-3 terms in turn, and a third
    of the multi-term queries are AND. The seed draws the terms."""
    ranked = df.rename_axis("term").reset_index(name="df")
    terms = ranked.sort_values(["df", "term"], ascending=[False, True])["term"].tolist()
    m = len(terms)
    pools = {"hot": terms[: max(1, m // 20)], "mid": terms[m // 20 : m // 2], "rare": terms[m // 2 :]}
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        pool = pools[bands[i % len(bands)]]
        shape = i // len(bands)
        n_terms = 1 + shape % 3
        q = " ".join(pool[int(rng.randint(0, len(pool)))] for _ in range(n_terms))
        out.append((q, "and" if n_terms > 1 and (shape // 3) % 3 == 0 else "or"))
    return out


class ExactBM25:
    """Exhaustive BM25 over ``docs`` (columns doc_id, text)."""

    def __init__(self, docs: pd.DataFrame):
        self.doc_ids = docs["doc_id"].to_numpy(dtype=np.int64)
        toks = pd.Series([tokenize(t) for t in docs["text"].tolist()])
        self.dl = toks.str.len().to_numpy(dtype=np.float64)
        self.n = len(toks)
        self.avgdl = float(self.dl.mean())
        flat = toks.explode().dropna()
        tf = pd.DataFrame({"term": flat.to_numpy(), "doc": flat.index.to_numpy()}).value_counts()
        tf = tf.sort_index()
        self.postings = {
            term: (grp.index.get_level_values("doc").to_numpy(), grp.to_numpy(np.float64))
            for term, grp in tf.groupby(level="term", sort=False)
        }

    def matches(self, query: str, mode: str = "or") -> tuple[np.ndarray, np.ndarray]:
        """(doc ids ascending, exact scores) of every doc ``query`` matches."""
        qw = Counter(tokenize(query))
        score = np.zeros(self.n)
        hits = np.zeros(self.n, dtype=np.int64)
        norm = K1 * (1.0 - B + B * self.dl / self.avgdl)
        for t in sorted(qw):
            if t not in self.postings:
                continue
            docs, tf = self.postings[t]
            d = len(docs)
            idf = np.log1p((self.n - d + 0.5) / (d + 0.5))
            score[docs] += qw[t] * idf * tf * (K1 + 1.0) / (tf + norm[docs])
            hits[docs] += 1
        keep = score > 0.0
        if mode == "and":
            keep &= hits == len(qw)
        idx = np.flatnonzero(keep)
        order = np.argsort(self.doc_ids[idx], kind="stable")
        return self.doc_ids[idx][order], score[idx][order]


def same_top_k(got: list[tuple[int, float]], exact: tuple[np.ndarray, np.ndarray], k: int) -> bool:
    """``got`` is a top-``k`` of the exact scores: distinct matching docs,
    each score within rounding of exact, no doc outside scoring above the
    last one and no inversion in the order. Docs whose exact scores tie
    within TIE_EPS may come in any order and either side of the cut: the
    engine sums a doc's term scores in another order than this scorer, so a
    tie can differ in the last bit."""
    ids, scores = exact
    if len(got) != min(k, len(ids)):
        return False
    if not got:
        return True
    got_ids = np.array([d for d, _ in got], dtype=np.int64)
    pos = np.searchsorted(ids, got_ids)
    if len(set(got_ids.tolist())) < len(got) or (pos >= len(ids)).any() or (ids[pos] != got_ids).any():
        return False
    e = scores[pos]
    if any(abs(s - x) > SCORE_TOL for (_, s), x in zip(got, e)):
        return False
    if (e[1:] > e[:-1] + TIE_EPS).any():
        return False
    rest = np.delete(scores, pos)
    return not len(rest) or rest.max() <= e[-1] + TIE_EPS
