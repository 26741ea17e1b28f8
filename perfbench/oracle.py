"""Oracle gate: every distinct query's answer against an exact BM25 scorer.

``Corpus`` scores documents exactly as ``query/bm25.py::bm25_topk_brute``
defines it (Lucene idf ``ln(1 + (N - df + 0.5) / (df + 0.5))``, k1=1.2,
b=0.75, document length = analyzed token count, distinct query terms, order
score desc then docid asc), but in NumPy over token lists analyzed once per
snapshot, so a run checks every distinct query in well under a second; a
Spark brute job costs about a second each, and ten more for its first code
generation in a fresh process. ``perfbench/selftest.py`` checks this scorer
against ``bm25_topk_brute`` and ``bm25_score_df`` query by query.

``bool`` answers are the same sums restricted by set algebra (must present,
must_not absent); ``phrase`` answers count exact adjacency over the analyzed
token streams and score ``phrase_tf`` in the BM25 tf slot with the summed idf
of the phrase terms, as ``query/phrase.py::phrase_match`` documents.

The corpus scored is the *physical* one: every document copy the index still
holds, superseded and deleted copies included, because the engine keeps
Lucene's contract that corpus statistics (N, df, avgdl) count dead copies
until compaction. Dead copies are then dropped from the ranking. After
``compact_index`` the physical corpus equals the live corpus.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd

from es_indexer_spark.analysis.tokenizer import code_tokenize_series, tokenize_one
from es_indexer_spark.query.bm25 import lucene_idf

K1, B = 1.2, 0.75
SCORE_TOL = 5e-7  # equal to 6 decimals


def physical_corpus(vdir: str, by_sha: dict[str, tuple[str, str]]) -> pd.DataFrame:
    """(docid, repo, path, sha256, lang, content) for every doc copy in the
    version's docs table, read straight from its parquet files; content comes
    from the benchmark's own record, matched on the sha256 the engine stored.
    Raises if the engine holds a document the benchmark never wrote."""
    docs = pd.read_parquet(os.path.join(vdir, "docs"), columns=["docid", "repo", "path", "sha256"])
    unknown = ~docs["sha256"].isin(by_sha.keys())
    if unknown.any():
        raise AssertionError(f"index holds {int(unknown.sum())} docs the benchmark never wrote")
    docs["lang"] = [by_sha[s][0] for s in docs["sha256"]]
    docs["content"] = [by_sha[s][1] for s in docs["sha256"]]
    return docs.sort_values("docid", ignore_index=True)


def compare(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when rank-identical with scores equal to 6 decimals."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"docids differ: got {[d for d, _ in got][:12]} want {[d for d, _ in want][:12]}"
    for (d, a), (_, b) in zip(got, want):
        if abs(a - b) > SCORE_TOL:
            return f"score of doc {d}: got {a!r} want {b!r}"
    return None


class Corpus:
    """Exact BM25 over one physical corpus snapshot (rows with docid, lang,
    content); ``dead`` docids count in the statistics but are never returned."""

    def __init__(self, phys: pd.DataFrame, dead=frozenset()):
        self.docids = phys["docid"].to_numpy(dtype=np.int64)
        self.toks = code_tokenize_series(phys["content"], phys["lang"]).tolist()
        self.n = len(self.toks)
        self.dl = np.array([len(t) for t in self.toks], dtype=np.float64)
        self.avgdl = float(self.dl.mean())
        self.live = ~np.isin(self.docids, np.fromiter(dead, dtype=np.int64))
        self.tf = [Counter(t) for t in self.toks]
        self.df = Counter(t for c in self.tf for t in c)

    def _tf(self, term: str) -> np.ndarray:
        return np.array([c.get(term, 0) for c in self.tf], dtype=np.float64)

    def _bm25(self, idf: float, tf: np.ndarray) -> np.ndarray:
        return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl / self.avgdl))

    def _rank(self, score: np.ndarray, hit: np.ndarray, k: int) -> list[tuple[int, float]]:
        idx = np.flatnonzero(hit & self.live)
        order = np.lexsort((self.docids[idx], -score[idx]))[:k]
        return [(int(self.docids[i]), float(score[i])) for i in idx[order]]

    @staticmethod
    def terms(text: str) -> list[str]:
        return sorted(set(tokenize_one(text, "code")))

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        score, hit = np.zeros(self.n), np.zeros(self.n, dtype=bool)
        for t in self.terms(query):
            tf = self._tf(t)
            score += self._bm25(lucene_idf(self.n, self.df[t]), tf)
            hit |= tf > 0
        return self._rank(score, hit, k)

    def bool(self, must: str, should: str, must_not: str, k: int) -> list[tuple[int, float]]:
        score, hit = np.zeros(self.n), np.ones(self.n, dtype=bool)
        for t in self.terms(must):
            tf = self._tf(t)
            score += self._bm25(lucene_idf(self.n, self.df[t]), tf)
            hit &= tf > 0
        for t in self.terms(should):
            score += self._bm25(lucene_idf(self.n, self.df[t]), self._tf(t))
        for t in self.terms(must_not):
            hit &= self._tf(t) == 0
        return self._rank(score, hit, k)

    def phrase(self, phrase: str, k: int) -> list[tuple[int, float]]:
        terms = tokenize_one(phrase, "code")
        m = len(terms)
        tf = np.array(
            [sum(tl[p : p + m] == terms for p in range(len(tl) - m + 1)) for tl in self.toks],
            dtype=np.float64,
        )
        sum_idf = sum(lucene_idf(self.n, self.df[t]) for t in terms)
        return self._rank(self._bm25(sum_idf, tf), tf > 0, k)
