"""Seeded inputs: a ``code_files`` corpus, a query stream and a write stream.

Everything here is a pure function of ``--seed``; the engine only ever sees
the rows and query strings produced here.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd

from es_indexer_spark import fixtures
from es_indexer_spark.analysis.tokenizer import code_tokenize_series, tokenize_one

# Seeds select disjoint row-id windows of the fixture generator, so two seeds
# give two different corpora with the same term statistics.
_ROWS_PER_SEED = 1 << 24

BATCH_SIZE = 15
ZIPF_S = 1.1


def corpus(seed: int, n_files: int) -> pd.DataFrame:
    """``code_files`` rows (repo, path, commit, lang, content) for this seed."""
    ids = np.arange(n_files, dtype=np.int64) + (seed % 4096) * _ROWS_PER_SEED
    return fixtures._gen_batch(ids)


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def tokens(pdf: pd.DataFrame) -> pd.Series:
    """Per-doc token lists through the code analysis chain (lang marker last)."""
    return code_tokenize_series(pdf["content"], pdf["lang"])


def _plain(term: str) -> bool:
    """A term that the query analyzer maps to itself and nothing else."""
    return ":" not in term and tokenize_one(term, "code") == [term]


def query_pool(seed: int, toks: pd.Series) -> dict[str, list]:
    """Fixed per-seed pool of queries for every class, drawn from the corpus.

    ``rare``: one term of document frequency 2-10; ``multi``: three mid-df
    terms; ``stop``: two stop words; ``probe``: the ``stop`` queries again,
    run with the block-max probe forced on; ``bool``: must/should/must_not
    over mid-df terms; ``phrase``: two adjacent tokens taken from a document;
    ``batch``: ``BATCH_SIZE`` queries drawn from the rare/multi/stop pools.
    """
    rng = np.random.default_rng([seed, 1])
    df = Counter(t for tl in toks for t in set(tl))
    n = len(toks)
    by_df = sorted(t for t in df if _plain(t))

    def pick(lo: int, hi: int, k: int) -> list[str]:
        cand = [t for t in by_df if lo <= df[t] <= hi]
        return [str(t) for t in rng.choice(cand, size=k, replace=len(cand) < k)]

    stops = [s for s in fixtures._STOPS if s in df]
    mid_lo, mid_hi = max(3, n // 200), max(10, n // 8)
    rare = pick(2, 10, 6)
    multi = [" ".join(pick(mid_lo, mid_hi, 3)) for _ in range(4)]
    stop = [" ".join(rng.choice(stops, size=2, replace=False)) for _ in range(2)]
    bool_ = []
    for _ in range(3):
        must, should, must_not = pick(mid_lo, mid_hi, 3)
        bool_.append({"must": must, "should": should, "must_not": must_not})
    phrase = []
    while len(phrase) < 3:
        tl = toks.iloc[int(rng.integers(n))]
        if len(tl) < 3:
            continue
        p = int(rng.integers(len(tl) - 2))  # never the trailing lang marker
        a, b = tl[p], tl[p + 1]
        if a != b and _plain(a) and _plain(b):
            phrase.append(f"{a} {b}")
    singles = rare + multi + stop
    batch = [
        {f"b{i}": singles[int(j)] for i, j in enumerate(rng.choice(len(singles), BATCH_SIZE))}
        for _ in range(2)
    ]
    return {
        "rare": rare, "multi": multi, "stop": stop, "probe": list(stop),
        "bool": bool_, "phrase": phrase, "batch": batch,
    }


def query_cycles(seed: int, pool: dict[str, list]):
    """Endless closed-loop stream of cycles, each a list of ``(class, query)``.

    A cycle issues every class once in a seeded order, so a run made of whole
    cycles has the same class mix on every seed; within a class, repeats are
    Zipf-skewed over the pool, so the dictionary memo holds the whole working
    set.
    """
    rng = np.random.default_rng([seed, 2])
    weights = {}
    for c, qs in pool.items():
        w = 1.0 / np.arange(1, len(qs) + 1) ** ZIPF_S
        weights[c] = w / w.sum()
    while True:
        yield [
            (str(c), pool[str(c)][int(rng.choice(len(pool[str(c)]), p=weights[str(c)]))])
            for c in rng.permutation(list(pool))
        ]


def marker(seed: int, step: int) -> str:
    """Per-step marker term: one plain token that no fixture row contains."""
    return f"bmk{seed % 4096}s{step}"
