"""Spark-free per-layer throughput: the analysis chain and the block codec.

These layers run inside Python workers during a Spark job, out of reach of
spans recorded in this process, so the traced run calls them directly: the tokenizer on the
workload's corpus, the codec on the blocks of the index the workload built.
Each measurement is the median of ``REPS`` passes; the per-block loops run
over at most ``MAX_BLOCKS`` blocks.
"""

from __future__ import annotations

import os
import statistics
import time

import pandas as pd

from es_indexer_spark.analysis.tokenizer import code_tokenize_series
from es_indexer_spark.index import catalog, codec

REPS = 3
MAX_BLOCKS = 2000


def _rate(work: float, fn, span, name: str) -> float:
    times = []
    for _ in range(REPS):
        with span(name):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def measure(pdf: pd.DataFrame, vdir: str, span) -> dict[str, float]:
    out = {}
    out["analysis.tokenize_docs_per_s"] = _rate(
        len(pdf), lambda: code_tokenize_series(pdf["content"], pdf["lang"]),
        span, "analysis.code_tokenize_series",
    )

    blocks = pd.read_parquet(
        os.path.join(vdir, "postings"), columns=["n", "first_docid", "gaps", "tfs", "dls"]
    ).head(MAX_BLOCKS)
    gaps, tfs, dls = blocks["gaps"].tolist(), blocks["tfs"].tolist(), blocks["dls"].tolist()
    firsts, ns = blocks["first_docid"].to_numpy(), blocks["n"].to_numpy()
    mpostings = float(ns.sum()) / 1e6

    def batch():
        return codec.decode_blocks_batch(gaps, tfs, dls, firsts, ns)

    def loop():
        for g, t, d, f in zip(gaps, tfs, dls, firsts):
            codec.decode_block(g, t, d, int(f))

    out["codec.decode_batch_mpostings_per_s"] = _rate(mpostings, batch, span, "index.codec.decode_blocks_batch")
    out["codec.decode_loop_mpostings_per_s"] = _rate(mpostings, loop, span, "index.codec.decode_block")

    stats = catalog.read_stats(vdir)
    docids, t_all, d_all, offs = batch()

    def encode():
        for i in range(len(ns)):
            a, z = offs[i], offs[i + 1]
            codec.encode_blocks(docids[a:z], t_all[a:z], d_all[a:z], stats["avgdl"], stats["k1"], stats["b"])

    out["codec.encode_mpostings_per_s"] = _rate(mpostings, encode, span, "index.codec.encode_blocks")
    payload = sum(len(g) + len(t) + len(d) for g, t, d in zip(gaps, tfs, dls))
    out["codec.bytes_per_posting"] = payload / max(1.0, float(ns.sum()))
    return out
