#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the repository root:

    python3 perfbench/selftest.py

1. The NumPy oracle agrees with ``query/bm25.py`` (``bm25_topk_brute`` for
   top-k queries, ``bm25_score_df`` set algebra for bool) on every query of a
   small seeded pool, to 6 decimals and rank-identically.
2. A tiny-size run of every workload, untraced and traced, prints every
   end-to-end metric (and every name the notes promise) with its unit,
   exactly the metrics of ``BENCHMARK.json`` in its last line, and
   ``error_rate`` 0. It prints the tracing overhead of each workload.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``, the
   benchmark exits non-zero without printing a result.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

# per-workload metric names NOTES.md promises, printed as human lines
HUMAN = {
    "search": ("setup_s", "op_p50_ms", "op_cpu_ms", "query_p50_ms", "query_p90_ms",
               "throughput_per_s", "build_files_per_s", "index_bytes_per_input_byte", "error_rate"),
    "ingest": ("setup_s", "op_p50_ms", "op_cpu_ms", "ingest_docs_per_s", "ingest_step_p50_s",
               "ingest_query_p50_ms", "ingest_query_cpu_ms", "index_bytes_per_input_byte", "error_rate"),
}


def check_oracle() -> None:
    from pyspark.sql import functions as F

    from es_indexer_spark.query.bm25 import bm25_score_df, bm25_topk_brute
    from es_indexer_spark.session import get_spark
    from perfbench import inputs, oracle

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench-selftest", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    try:
        pdf = inputs.corpus(7, 300)
        pdf["docid"] = range(len(pdf))
        pool = inputs.query_pool(7, inputs.tokens(pdf))
        src = spark.createDataFrame(pdf[["docid", "lang", "content"]]).cache()
        code = dict(content_col="content", id_col="docid", tokenizer="code", lang_col="lang")
        orc = oracle.Corpus(pdf)
        n = 0
        for q in sorted(set(pool["rare"] + pool["multi"] + pool["stop"])):
            want = [(int(r["docid"]), float(r["score"])) for r in bm25_topk_brute(src, q, 10, **code).collect()]
            msg = oracle.compare(orc.topk(q, 10), want)
            assert msg is None, f"topk {q!r}: {msg}"
            n += 1
        for q in pool["bool"]:
            rows = (
                bm25_score_df(src, f"{q['must']} {q['should']}", **code)
                .join(bm25_score_df(src, q["must"], **code).select("docid"), "docid", "left_semi")
                .join(bm25_score_df(src, q["must_not"], **code).select("docid"), "docid", "left_anti")
                .orderBy(F.desc("score"), F.asc("docid")).limit(10).collect()
            )
            want = [(int(r["docid"]), float(r["score"])) for r in rows]
            msg = oracle.compare(orc.bool(q["must"], q["should"], q["must_not"], 10), want)
            assert msg is None, f"bool {q}: {msg}"
            n += 1
        print(f"selftest: oracle agrees with query/bm25.py on {n} queries", flush=True)
    finally:
        spark.stop()


def run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        p50 = 0.0
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w, trace)
            assert p.returncode == 0, f"{w} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (w, trace, lines[:40])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
                human = {m.group(1): float(m.group(2)) for m in
                         (re.match(r"metric (\S+) = (\S+) \S+$", ln) for ln in lines) if m}
                missing = [k for k in HUMAN[w] if k not in human]
                assert not missing, f"{w}: not printed: {missing}"
                assert human["error_rate"] == 0.0, human["error_rate"]
                p50 = human["op_p50_ms"]
            else:
                # every workload builds, publishes, tokenizes and encodes
                for k in ("build.docs_s", "build.postings", "catalog.versions_published",
                          "analysis.tokenize_docs_per_s", "codec.encode_mpostings_per_s"):
                    assert res["metrics"][k]["value"] > 0, f"{w}: {k} is 0"
                traced = res["metrics"]["trace.op_p50_ms"]["value"]
                print(f"selftest: {w}: op_p50_ms untraced {p50:.1f} ms, traced {traced:.1f} ms "
                      f"(overhead {100.0 * (traced / p50 - 1):+.1f}%, hooks "
                      f"{res['metrics']['trace.hook_pct']['value']:.2f}% of the run)", flush=True)
        print(f"selftest: {w}: every metric printed with its unit, error_rate 0", flush=True)


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run("search", 0, cwd=bare)
        assert p.returncode != 0, "the benchmark succeeded without the engine"
        assert not p.stdout.strip(), f"printed a result without the engine: {p.stdout[-500:]}"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("selftest: fails fast without the engine", flush=True)


if __name__ == "__main__":
    check_bare_dir()
    check_oracle()
    check_runs()
    print("selftest: ok")
