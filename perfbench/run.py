#!/usr/bin/env python3
"""Repository benchmark: seeded ``search`` and ``ingest`` workloads.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. One client, closed loop, ``local[nproc]``.
Human-readable lines come first: every end-to-end metric under its own name,
``error_rate``, the host-noise record and any oracle mismatch. The last line
of standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer ones, measured
from spans the benchmark records around the engine's public calls (written to
``.bench_work/traces/``). See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

# ---- sizes (NOTES.md says how they were chosen) ---------------------------------
SIZES = {
    # files in the search corpus / the ingest base corpus; rows upserted and
    # deleted per ingest step
    "full": dict(search_files=1000, ingest_files=1000, upserts=200, deletes=50),
    "tiny": dict(search_files=200, ingest_files=200, upserts=40, deletes=10),  # self-test
}
TOPK = 10
# index layout of every build: one term bucket per core, ~4 docid shards per
# 1,000 files, one postings batch (the micro-batch path's setting)
CODE_INDEX = dict(
    content_col="content", id_col=None, order_cols=("repo", "path", "commit"),
    meta_cols=("repo", "path", "lang"), tokenizer="code", lang_col="lang",
    n_buckets=len(os.sched_getaffinity(0)), shard_size=256,
)

# ---- metrics ---------------------------------------------------------------------
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "index_bytes_per_input_byte": "ratio",
}
# the search pool's classes (inputs.query_pool) and the ingest probe reads
QUERY_CLASSES = ("rare", "multi", "stop", "probe", "bool", "phrase", "batch", "fresh")
PER_LAYER = {
    "analysis.tokenize_docs_per_s": "docs/s",
    "codec.encode_mpostings_per_s": "Mpostings/s",
    "codec.decode_batch_mpostings_per_s": "Mpostings/s",
    "codec.decode_loop_mpostings_per_s": "Mpostings/s",
    "codec.bytes_per_posting": "B",
    "build.docs_s": "s",
    "build.postings_s": "s",
    "build.dict_s": "s",
    "build.other_s": "s",
    "build.postings": "count",
    "build.blocks": "count",
    **{
        f"query.{c}.{m}": u
        for c in QUERY_CLASSES
        for m, u in (("p50_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                     ("cpu_ms", "ms"), ("jobs", "count"), ("postings_per_hit", "ratio"))
    },
    "merge.upsert_s": "s",
    "tombstones.delete_s": "s",
    "tombstones.compact_s": "s",
    "tombstones.live_count": "count",
    "catalog.versions_published": "count",
    "catalog.bytes_written_per_user_byte": "ratio",
    "trace.op_p50_ms": "ms",
    "trace.hook_pct": "%",
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def class_p50(qrecs: list[dict], key: str = "lat") -> float:
    """Median of ``key`` (latency or CPU time, s) in each query class,
    averaged over the classes. Smooth where a pooled median of a few classes
    of unlike cost jumps from one class to the next."""
    by_cls: dict[str, list[float]] = {}
    for r in qrecs:
        by_cls.setdefault(r["cls"], []).append(r[key])
    return statistics.mean(median(v) for v in by_cls.values()) if by_cls else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def du(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum sidecars excluded)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.endswith(".crc")
    )


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the JVM, the Python workers, and the children they reaped.
    The kernel charges time the hypervisor steals to ``steal``, not to a
    process, so this stays steady when the host is contended."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listed
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICK


def host_sample() -> dict:
    """CPU steal ticks and load average; printed beside the metrics, never gated."""
    try:
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return {}
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu), "loadavg": load}


class Bench:
    """One run: the Spark session, the work dir, the tracer and the records."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.size = SIZES["tiny" if args.tiny else "full"]
        self.cpus = len(os.sched_getaffinity(0))
        self.base = os.path.join(ROOT, ".bench_work")
        self.work = os.path.join(self.base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # every file the engine, the JVM and the Python workers write stays in
        # the work dir; the workers import the engine from the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        from es_indexer_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file: the JVM would write it under /tmp.
                # C1 only: a run is too short for C2 to settle, and its
                # compile threads would compete with the timed work (NOTES.md)
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phase, self.phase_t0, self.phase_s = "setup", time.perf_counter(), {}
        self.tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
            self.tracer.phase = self.phase
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_s = self.build_s = 0.0
        self.window_s = 0.0
        self.ops: list[float] = []  # latencies of the workload's timed ops (s)
        self.op_cpu: list[float] = []  # their CPU time (s), where not a query
        self.qrecs: list[dict] = []  # timed query records
        self.metrics: dict[str, tuple[float, str]] = {}
        self.human: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.oracle_checked = 0

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = (float(value), END_TO_END[name])

    def fail(self, n: int, msg: str) -> None:
        self.failed += n
        self.errors.append(msg)

    # -- tracing -------------------------------------------------------------------
    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name, **attrs)

    def set_phase(self, phase: str) -> None:
        """setup -> warmup -> window -> check; spans carry the phase."""
        now = time.perf_counter()
        self.phase_s[self.phase] = now - self.phase_t0
        self.phase, self.phase_t0 = phase, now
        if self.tracer is not None:
            self.tracer.phase, self.tracer.request = phase, None

    def instrument(self) -> None:
        """Wrap the public calls named under the per-layer metrics."""
        if self.tracer is None:
            return
        from es_indexer_spark.index import builder, catalog, merge, tombstones
        from es_indexer_spark.query import boolean, engine, phrase

        def read_ckpt(rec, vdir):
            rec["ckpt"] = {
                f[:-5]: catalog.ckpt_read(vdir, f[:-5])
                for f in os.listdir(os.path.join(vdir, "_ckpt"))
                if f.endswith(".json")
            }

        t = self.tracer
        t.instrument(builder.build_index, "index.builder.build_index", after=read_ckpt)
        for fn, name in (
            (merge.upsert_batch, "index.merge.upsert_batch"),
            (merge.merge_indexes, "index.merge.merge_indexes"),
            (tombstones.delete_docs, "index.tombstones.delete_docs"),
            (tombstones.compact_index, "index.tombstones.compact_index"),
            (catalog.publish, "index.catalog.publish"),
            (engine.topk, "query.engine.topk"),
            (engine.topk_many, "query.engine.topk_many"),
            (boolean.bool_query, "query.boolean.bool_query"),
            (phrase.phrase_match, "query.phrase.phrase_match"),
        ):
            t.instrument(fn, name)

    # -- one timed query -----------------------------------------------------------
    def query(self, cls: str, q, root: str, request: str, k: int = TOPK) -> list:
        """The call that returns the DataFrame (plan), then ``collect`` (exec).
        Returns the answer as comparable tuples."""
        from es_indexer_spark.query.boolean import bool_query
        from es_indexer_spark.query.engine import topk, topk_many
        from es_indexer_spark.query.phrase import phrase_match

        sc = self.spark.sparkContext
        if self.tracer is not None:
            self.tracer.request = request
            sc.setJobGroup(request, cls)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.span(f"bench.query.{cls}"):
            with self.span("bench.plan"):
                if cls == "probe":
                    df = topk(self.spark, root, q, k=k, probe_min_postings=0)
                elif cls == "bool":
                    df = bool_query(self.spark, root, must=[q["must"]], should=[q["should"]],
                                    must_not=[q["must_not"]], k=k)
                elif cls == "phrase":
                    df = phrase_match(self.spark, root, q, k=k)
                elif cls == "batch":
                    df = topk_many(self.spark, root, q, k=k)
                else:
                    df = topk(self.spark, root, q, k=k)
            t1 = time.perf_counter()
            with self.span("bench.exec"):
                rows = df.collect()
        t2 = time.perf_counter()
        rec = {"cls": cls, "q": q, "lat": t2 - t0, "plan": t1 - t0, "exec": t2 - t1,
               "cpu": tree_cpu_s() - c0, "hits": len(rows)}
        if self.tracer is not None:
            from es_indexer_spark.index import catalog

            h0 = time.perf_counter()
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(request))
            rec["vdir"] = catalog.resolve(root)
            sc.setJobGroup("bench-idle", "idle")
            self.tracer.hook_s += time.perf_counter() - h0
        self.qrecs.append(rec)
        hits = [(r["qid"] if cls == "batch" else None, int(r["docid"]), float(r["score"])) for r in rows]
        if cls == "batch":  # qid -> hits in rank order
            return {i: [(d, sc) for j, d, sc in sorted(hits, key=lambda h: (-h[2], h[1])) if j == i] for i in q}
        return [(d, sc) for _, d, sc in hits]

    def close(self) -> None:
        """Stop Spark and wait until the JVM (and with it every worker) is gone."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()  # the JVM exits on EOF of its stdin
                except OSError:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            shutil.rmtree(self.work, ignore_errors=True)


# ---- shared steps ----------------------------------------------------------------
def timed_setup(b: Bench, n_files: int, positions: bool):
    """Generate the seeded corpus and build the index from it: the set-up a
    user pays before the first query or write (setup_s). It is the process's
    first build, so it carries the JVM's code generation too. Returns
    (corpus rows, version dir)."""
    from es_indexer_spark.index.builder import build_index
    from perfbench import inputs

    t0 = time.perf_counter()
    with b.span("bench.setup"):
        pdf = inputs.corpus(b.seed, n_files)
        t1 = time.perf_counter()
        vdir = build_index(
            b.spark, b.spark.createDataFrame(pdf), os.path.join(b.work, "idx"),
            n_ckpt_batches=1, store_positions=positions, **CODE_INDEX,
        )
    t2 = time.perf_counter()
    b.setup_s, b.build_s = t2 - t0, t2 - t1
    return pdf, vdir


# ---- workload: search ------------------------------------------------------------
def run_search(b: Bench) -> str:
    """Zipf-repeated queries of every class over one positional index."""
    from es_indexer_spark.index import catalog
    from perfbench import inputs, oracle

    n_files = b.size["search_files"]
    pdf, vdir = timed_setup(b, n_files, positions=True)
    root = os.path.dirname(vdir)
    pool = inputs.query_pool(b.seed, inputs.tokens(pdf))

    # warm-up: one query of every class runs every timed path; one batch over
    # every distinct query text fills the dictionary memo with the working set
    b.set_phase("warmup")
    for cls, qs in pool.items():
        b.query(cls, qs[0], root, "warmup")
    terms = working_set(pool)
    b.query("batch", {t: t for t in sorted(terms)}, root, "warmup")
    b.qrecs.clear()

    b.set_phase("window")
    seen: dict[str, dict] = {}  # distinct query -> first answer, ops issued
    n_queries = 0
    cycles = inputs.query_cycles(b.seed, pool)
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < b.args.seconds:  # whole cycles only
        for cls, q in next(cycles):
            key = f"{cls} {json.dumps(q, sort_keys=True)}"
            b.attempted += 1
            try:
                out = b.query(cls, q, root, f"q{b.attempted}")
            except Exception as e:  # a failed op is counted; the loop goes on
                b.fail(1, f"{key}: {type(e).__name__}: {e}")
                continue
            b.ops.append(b.qrecs[-1]["lat"])
            n_queries += inputs.BATCH_SIZE if cls == "batch" else 1
            ent = seen.setdefault(key, {"cls": cls, "q": q, "out": out, "ops": 0})
            ent["ops"] += 1
            if ent["out"] != out:
                b.fail(1, f"{key}: answer changed between repeats")
    b.window_s = time.perf_counter() - t_start

    b.set_phase("check")
    by_sha = {inputs.sha256(c): (lang, c) for lang, c in zip(pdf["lang"], pdf["content"])}
    phys = oracle.physical_corpus(vdir, by_sha)
    if len(phys) != len(pdf):
        b.fail(1, f"index holds {len(phys)} docs, the corpus {len(pdf)}")
    orc = oracle.Corpus(phys)
    for key, e in seen.items():
        cls, q, got = e["cls"], e["q"], e["out"]
        if cls == "batch":
            checks = [(f"batch/{i} {t!r}", orc.topk(t, TOPK), got[i]) for i, t in q.items()]
        elif cls == "bool":
            checks = [(f"bool {q}", orc.bool(q["must"], q["should"], q["must_not"], TOPK), got)]
        elif cls == "phrase":
            checks = [(f"phrase {q!r}", orc.phrase(q, TOPK), got)]
        else:
            checks = [(f"{cls} {q!r}", orc.topk(q, TOPK), got)]
        msgs = [f"{label}: {m}" for label, want, g in checks if (m := oracle.compare(g, want))]
        if msgs:  # a wrong answer fails every op that got it
            b.fail(e["ops"], "; ".join(msgs))
        b.oracle_checked += len(checks)

    b.metric("setup_s", b.setup_s)
    b.metric("op_cpu_ms", class_p50(b.qrecs, "cpu") * 1e3)  # every op is a query
    b.metric("index_bytes_per_input_byte", du(vdir) / float(pdf["content"].str.len().sum()))
    b.human.update({
        "op_p50_ms": (class_p50(b.qrecs) * 1e3, "ms"),
        "throughput_per_s": (n_queries / b.window_s, "1/s"),
    })
    percentiles(b, "query", b.ops)
    b.human.update({
        "corpus_files": (n_files, "count"),
        "dict_terms": (catalog.ckpt_read(vdir, "dict")["n_terms"], "count"),
        "memo_working_set_terms": (len(terms), "count"),
        "index_bytes": (du(vdir), "B"),
        "build_files_per_s": (n_files / b.build_s, "1/s"),
    })
    if b.tracer is not None:
        from perfbench import layers

        b.layer.update(layers.measure(pdf, vdir, b.span))
        b.layer["tombstones.live_count"] = n_files
        b.layer["catalog.bytes_written_per_user_byte"] = b.metrics["index_bytes_per_input_byte"][0]
    return "setup"


def working_set(pool) -> set[str]:
    from es_indexer_spark.analysis.tokenizer import tokenize_one

    terms = set()
    for qs in pool.values():
        for q in qs:
            for text in (q.values() if isinstance(q, dict) else [q]):
                terms.update(tokenize_one(text, "code"))
    return terms


# ---- workload: ingest ------------------------------------------------------------
def run_ingest(b: Bench) -> str:
    """Micro-batch upserts + deletes, each followed by a read of the new version."""
    import numpy as np

    from es_indexer_spark.index import catalog
    from es_indexer_spark.index.merge import upsert_batch
    from es_indexer_spark.index.tombstones import compact_index, delete_docs
    from es_indexer_spark.streaming import make_batch_indexer
    from perfbench import inputs, oracle

    n_up, n_del = b.size["upserts"], b.size["deletes"]
    base, vdir = timed_setup(b, b.size["ingest_files"], positions=False)
    root = os.path.dirname(vdir)
    os.makedirs(os.path.join(b.work, "deltas"))
    index_batch = make_batch_indexer(
        b.spark, root, store_positions=False, work_dir=os.path.join(b.work, "deltas"),
        upsert_keys=("repo", "path"), **CODE_INDEX,
    )
    rng = np.random.default_rng([b.seed, 3])

    # the benchmark's own model: live row per (repo, path), every content written
    live = {(r.repo, r.path): r for r in base.itertuples(index=False)}
    by_sha = {inputs.sha256(r.content): (r.lang, r.content) for r in live.values()}

    def snapshot():
        """Physical corpus of the current version, its dead docids and the
        live docid of every (repo, path); raises unless the index holds
        exactly one live copy of each live row."""
        phys = oracle.physical_corpus(catalog.resolve(root), by_sha)
        cur = {k: inputs.sha256(r.content) for k, r in live.items()}
        ok = [cur.get((r, p)) == s for r, p, s in zip(phys["repo"], phys["path"], phys["sha256"])]
        docid = {(r, p): int(d) for r, p, d, o in zip(phys["repo"], phys["path"], phys["docid"], ok) if o}
        if len(docid) != len(live) or sum(ok) != len(live):
            raise AssertionError(f"{len(live)} live rows, the index shows {sum(ok)} live copies")
        return phys, {int(d) for d, o in zip(phys["docid"], ok) if not o}, docid

    first = sorted(live)  # the rows step 1 deletes from: a seeded base sample
    first = [first[i] for i in rng.choice(len(first), n_up, replace=False)]
    state = {"docid": snapshot()[2], "prev": first, "docs": 0, "bytes": 0}
    pool = inputs.query_pool(b.seed, inputs.tokens(base))
    # read after every publish: distinct top-k queries of the seed's pool
    fixed_reads = list(dict.fromkeys([pool["rare"][0], pool["multi"][0], *pool["stop"]]))
    checks = []  # (label, phys, dead, query, k, got, must_see, must_not_see)

    def probe(label: str, markers: str, ups: list, gone: set, reads: list) -> None:
        """Read the new version: the markers (k=2*n_up: every doc carrying
        them, which must hold the step's upserts ``ups`` and none of its
        deleted docids ``gone``), then ``reads``. Each is the first read of
        its terms on that version."""
        phys, dead, state["docid"] = snapshot()
        must = {state["docid"][k] for k in ups}
        for i, q in enumerate([markers, *reads]):
            k = 2 * n_up if i == 0 else TOPK
            b.attempted += 1
            try:
                got = b.query("fresh", q, root, f"{label}/{i}", k=k)
            except Exception as e:  # a failed read is counted; the run goes on
                b.fail(1, f"{label} {q!r}: {type(e).__name__}: {e}")
                continue
            checks.append((f"{label} {q!r}", phys, dead, q, k, got, must if i == 0 else set(),
                           gone if i == 0 else set()))

    def step(s: int) -> float:
        """Upsert ``n_up`` rows carrying this step's marker, delete ``n_del`` rows
        upserted by the previous step (by step 1: of a seeded base sample),
        then probe the new version."""
        mk, mk_prev = inputs.marker(b.seed, s), inputs.marker(b.seed, s - 1)
        prev = set(state["prev"])
        pick = sorted(k for k in live if k not in prev)
        ups = [pick[i] for i in rng.choice(len(pick), n_up, replace=False)]
        gone = [state["prev"][i] for i in rng.choice(len(prev), min(n_del, len(prev)), replace=False)]
        rows = [live[k]._replace(content=live[k].content.split("\n#bmk ")[0] + f"\n#bmk {mk}") for k in ups]
        batch = b.spark.createDataFrame(
            [tuple(r) for r in rows], "repo string, path string, commit string, lang string, content string"
        )
        del_ids = [state["docid"][k] for k in gone]
        if b.tracer is not None:
            b.tracer.request = f"step{s}"
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with b.span("bench.ingest_step", step=s):
            index_batch(batch, s)
            delete_docs(b.spark, root, del_ids)
        dt = time.perf_counter() - t0
        b.op_cpu.append(tree_cpu_s() - c0)
        for r in rows:
            live[(r.repo, r.path)] = r
            by_sha[inputs.sha256(r.content)] = (r.lang, r.content)
            state["bytes"] += len(r.content)
        for k in gone:
            del live[k]
        probe(f"probe step {s}", f"{mk} {mk_prev}", ups, set(del_ids), fixed_reads)
        state["prev"] = ups
        state["docs"] += len(rows) + len(gone)
        return dt

    # warm-up: every write-path call once on a throwaway copy of the index (an
    # upsert of the index into itself); the delta build is warm from set-up
    b.set_phase("warmup")
    warm = os.path.join(b.work, "warm")
    for name in ("main", "delta"):
        shutil.copytree(root, os.path.join(warm, name))
    main = os.path.join(warm, "main")
    upsert_batch(b.spark, main, os.path.join(warm, "delta"), key_cols=("repo", "path"))
    delete_docs(b.spark, main, sorted(state["docid"].values())[:n_del])
    b.query("fresh", "def return", main, "warmup", k=2 * n_up)
    compact_index(b.spark, main)
    b.qrecs.clear()
    shutil.rmtree(warm)

    b.set_phase("window")
    bytes0 = du(root)
    t_start = time.perf_counter()
    s = 1
    while time.perf_counter() - t_start < b.args.seconds:
        b.attempted += 1
        try:
            b.ops.append(step(s))
        except Exception as e:
            b.fail(1, f"step {s}: {type(e).__name__}: {e}")
            break
        s += 1
    b.attempted += 1  # the compaction
    t0 = time.perf_counter()
    compact_s, cvdir = 0.0, catalog.resolve(root)
    try:
        with b.span("bench.compact"):
            cvdir = compact_index(b.spark, root)
        compact_s = time.perf_counter() - t0
        if snapshot()[1]:
            raise AssertionError("dead copies survive compaction")
        probe("probe after compaction", f"{inputs.marker(b.seed, s - 1)} {inputs.marker(b.seed, s - 2)}",
              [], set(), [])
    except Exception as e:
        b.fail(1, f"compaction: {type(e).__name__}: {e}")
    b.window_s = time.perf_counter() - t_start
    bytes_written = du(root) - bytes0

    b.set_phase("check")
    corpora = {}  # one oracle per probed version
    for label, phys, dead, q, k, got, must, gone in checks:
        ids = {d for d, _ in got}
        if not must <= ids:
            b.fail(1, f"{label}: {len(must - ids)} of the step's upserts not visible")
        if ids & gone:
            b.fail(1, f"{label}: {len(ids & gone)} deleted docs still visible")
        if id(phys) not in corpora:
            corpora[id(phys)] = oracle.Corpus(phys, dead)
        msg = oracle.compare(got, corpora[id(phys)].topk(q, k))
        if msg:
            b.fail(1, f"{label}: {msg}")
        b.oracle_checked += 1

    live_bytes = float(sum(len(r.content) for r in live.values()))
    b.metric("setup_s", b.setup_s)
    b.metric("op_cpu_ms", median(b.op_cpu) * 1e3)
    b.metric("index_bytes_per_input_byte", du(cvdir) / live_bytes)
    b.human.update({
        "op_p50_ms": (median(b.ops) * 1e3, "ms"),
        "ingest_docs_per_s": (state["docs"] / (sum(b.ops) + compact_s), "1/s"),
        "ingest_step_p50_s": (median(b.ops), "s"),
        "ingest_query_p50_ms": (class_p50(b.qrecs) * 1e3, "ms"),  # one class: fresh
        "ingest_query_cpu_ms": (class_p50(b.qrecs, "cpu") * 1e3, "ms"),
        "ingest_steps": (len(b.ops), "count"),
        "compact_s": (compact_s, "s"),
        "live_docs": (len(live), "count"),
    })
    if b.tracer is not None:
        from perfbench import layers

        b.layer.update(layers.measure(base, cvdir, b.span))
        b.layer["tombstones.live_count"] = len(live)
        b.layer["catalog.bytes_written_per_user_byte"] = bytes_written / max(1, state["bytes"])
    return "window"


WORKLOADS = {"search": run_search, "ingest": run_ingest}


# ---- reporting -------------------------------------------------------------------
def percentiles(b: Bench, prefix: str, lats: list[float]) -> None:
    """p50, p75 and p90, each with the number of samples beyond it (a
    percentile is trustworthy with at least ten)."""
    b.human[f"{prefix}_samples"] = (len(lats), "count")
    for q in (0.5, 0.75, 0.9):
        v = quantile(lats, q)
        b.human[f"{prefix}_p{int(q * 100)}_ms"] = (v * 1e3, "ms")
        b.human[f"{prefix}_p{int(q * 100)}_ms.samples_beyond"] = (sum(x > v for x in lats), "count")


def per_layer(b: Bench, build_phase: str) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans; a layer the workload leaves idle reads 0."""
    import pandas as pd

    from es_indexer_spark.analysis.tokenizer import tokenize_one

    spans = b.tracer.spans
    L = {k: 0.0 for k in PER_LAYER}
    L.update(b.layer)

    builds = [s for s in spans if s["name"] == "index.builder.build_index" and s["phase"] == build_phase]
    if builds:
        def stage(s, prefix, field="elapsed_sec"):
            return sum(v.get(field, 0) for k, v in s["ckpt"].items() if k.startswith(prefix))

        for key, prefix in (("docs", "docs"), ("postings", "postings_batch_"), ("dict", "dict")):
            L[f"build.{key}_s"] = median([stage(s, prefix) for s in builds])
        L["build.other_s"] = median([
            s["end"] - s["start"] - sum(stage(s, p) for p in ("docs", "postings_batch_", "dict"))
            for s in builds
        ])
        L["build.postings"] = median([stage(s, "postings_batch_", "postings_emitted") for s in builds])
        L["build.blocks"] = median([stage(s, "postings_batch_", "blocks") for s in builds])

    dicts: dict[str, pd.DataFrame] = {}

    def sum_df(vdir: str, text: str) -> float:
        if vdir not in dicts:
            dicts[vdir] = pd.read_parquet(os.path.join(vdir, "dict"), columns=["term", "df"])
        d = dicts[vdir]
        return float(d[d["term"].isin(set(tokenize_one(text, "code")))]["df"].sum())

    for c in QUERY_CLASSES:
        rs = [r for r in b.qrecs if r["cls"] == c]
        if not rs:
            continue
        L[f"query.{c}.p50_ms"] = median([r["lat"] for r in rs]) * 1e3
        L[f"query.{c}.plan_ms"] = median([r["plan"] for r in rs]) * 1e3
        L[f"query.{c}.exec_ms"] = median([r["exec"] for r in rs]) * 1e3
        L[f"query.{c}.cpu_ms"] = median([r["cpu"] for r in rs]) * 1e3
        L[f"query.{c}.jobs"] = median([r["jobs"] for r in rs])
        L[f"query.{c}.postings_per_hit"] = median([
            sum(sum_df(r["vdir"], t) for t in (r["q"].values() if isinstance(r["q"], dict) else [r["q"]]))
            / max(1, r["hits"])
            for r in rs
        ])
    for name, key in (
        ("index.merge.upsert_batch", "merge.upsert_s"),
        ("index.tombstones.delete_docs", "tombstones.delete_s"),
        ("index.tombstones.compact_index", "tombstones.compact_s"),
    ):
        L[key] = median([s["end"] - s["start"] for s in spans if s["name"] == name and s["phase"] == "window"])
    L["catalog.versions_published"] = sum(
        1 for s in spans if s["name"] == "index.catalog.publish" and s["phase"] == build_phase
    )
    L["trace.op_p50_ms"] = b.human["op_p50_ms"][0]
    L["trace.hook_pct"] = 100.0 * b.tracer.hook_s / max(1e-9, b.window_s)
    return {k: (float(v), PER_LAYER[k]) for k, v in L.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Seeded search/ingest benchmark of the engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)
    try:
        import es_indexer_spark  # noqa: F401  (fails fast outside a checkout)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    host0 = host_sample()
    b = Bench(args)
    layer = None
    try:
        b.instrument()
        build_phase = WORKLOADS[args.workload](b)
        b.set_phase("report")
        if b.tracer is not None:
            b.tracer.restore()
            layer = per_layer(b, build_phase)
            tdir = os.path.join(b.base, "traces")
            os.makedirs(tdir, exist_ok=True)
            b.tracer.dump(os.path.join(tdir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        b.close()
    host1 = host_sample()

    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"cpus={b.cpus} attempted={b.attempted} failed={b.failed} oracle_checked={b.oracle_checked}"
    ]
    rows = {**b.metrics, "error_rate": (b.failed / max(1, b.attempted), "ratio"), **b.human}
    lines += [f"metric {k} = {v:.6g} {u}" for k, (v, u) in rows.items()]
    lines.append("phase_s " + " ".join(f"{k}={v:.2f}" for k, v in b.phase_s.items()))
    if host0 and host1:
        dt = max(1, host1["total"] - host0["total"])
        lines.append(
            f"host steal_pct={100.0 * (host1['steal'] - host0['steal']) / dt:.3f} "
            f"steal_ticks={host0['steal']}->{host1['steal']} "
            f"loadavg_before={host0['loadavg']} loadavg_after={host1['loadavg']}"
        )
    lines += [f"error {e}" for e in b.errors[:20]]
    print("\n".join(lines), flush=True)
    print(json.dumps({
        "correct": not b.errors,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (layer or b.metrics).items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
