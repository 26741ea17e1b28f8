"""The micro-batch write path keeps work that needs no Python in the JVM.

- ``make_batch_indexer`` reads its batch once (persisted for the delta build)
  and leaves a batch the caller cached as it found it;
- ``assign_docids`` stamps docids with a window, no Python node in its plan;
- a small build's encoder runs one task per core, not two;
- a superseded-doc set is evaluated once, and an empty one writes no file;
- tombstones given as ids are written in one file.
"""

from __future__ import annotations

import io
import os
import typing
from contextlib import redirect_stdout

from pyspark import StorageLevel
from pyspark.sql import functions as F

from es_indexer_spark.index import catalog
from es_indexer_spark.index.builder import assign_docids, build_index
from es_indexer_spark.index.merge import upsert_batch
from es_indexer_spark.index.tombstones import delete_docs
from es_indexer_spark.query.engine import topk
from es_indexer_spark.streaming import make_batch_indexer

BUILD = dict(
    content_col="text", id_col=None, order_cols=("doc_id",), meta_cols=("doc_id",),
    tokenizer="standard", n_buckets=4, shard_size=100,
)
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _counted(spark, df):
    """``df`` with its text passed through a Python UDF that counts rows."""
    acc = spark.sparkContext.accumulator(0)

    def bump(s):
        acc.add(1)
        return s

    return df.withColumn("text", F.udf(bump, "string")(F.col("text"))), acc


def test_batch_indexer_reads_batch_once(spark, documents, tmp_path):
    root = str(tmp_path / "idx")
    fn = make_batch_indexer(
        spark, root, upsert_keys=("doc_id",), work_dir=str(tmp_path), **BUILD
    )
    # a batch the caller persisted stays persisted, and is still read once
    first, acc0 = _counted(spark, documents)
    first.persist()
    try:
        fn(first, 0)
        assert first.storageLevel != StorageLevel.NONE
        assert acc0.value == 500, "the first batch (a full build) reads its source once"
    finally:
        first.unpersist()

    changed = documents.filter(F.col("doc_id") < 40).withColumn(
        "text", F.concat(F.lit("qqqonce "), F.col("text"))
    )
    batch, acc = _counted(spark, changed)
    fn(batch, 1)
    assert acc.value == 40, f"each upserted row evaluated once, got {acc.value}/40"
    assert batch.storageLevel == StorageLevel.NONE, "the batch cache is released"
    assert catalog.ckpt_read(catalog.resolve(root), "merge")["upserted_docs"] == 40
    assert len(topk(spark, root, "qqqonce", k=100, use_blockmax=False).collect()) == 40


def test_assign_docids_jvm_only_nulls_first(spark):
    # unique (repo, path) keys with nulls in both columns; built from a range
    # (not local rows) so the bucket-id expression stays in the plan
    n = 600
    null_paths = (3, 10, 22)
    df = spark.range(n).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("r"), (F.col("id") % 5).cast("string")))
        .alias("repo"),
        F.when(F.col("id").isin(*null_paths), None)
        .otherwise(F.format_string("p%04d", F.col("id")))
        .alias("path"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("content"),
    )
    keys = [
        (None if i % 7 == 0 else f"r{i % 5}", None if i in null_paths else f"p{i:04d}")
        for i in range(n)
    ]
    assert len(set(keys)) == n
    out = assign_docids(df, ["repo", "path"], num_partitions=4)
    p = _plan(out)
    assert not [x for x in PYTHON_NODES if x in p], p
    assert "Window" in p and p.count("rangepartitioning(__pid") == 1
    assert p.count("CASE WHEN ((repo") >= 2, "several range buckets"

    def nulls_first(t):
        return tuple((0,) if v is None else (1, v) for v in t)

    got = sorted((r["docid"], r["repo"], r["path"]) for r in out.collect())
    assert [d for d, _, _ in got] == list(range(n))
    assert [(a, b) for _, a, b in got] == sorted(keys, key=nulls_first)


def test_small_build_encodes_one_task_per_core(spark, documents, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("small_build", "small build")
    try:
        build_index(
            spark, documents.limit(100), str(tmp_path / "idx"),
            n_ckpt_batches=1, **BUILD,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    tasks = [
        info.numTasks
        for jid in st.getJobIdsForGroup("small_build")
        for sid in st.getJobInfo(jid).stageIds
        if (info := st.getStageInfo(sid)) is not None
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks


def test_upsert_matching_nothing_writes_no_tombstones(spark, documents, tmp_path):
    main, delta = str(tmp_path / "main"), str(tmp_path / "delta")
    build_index(spark, documents.filter(F.col("doc_id") < 300), main, n_ckpt_batches=1, **BUILD)
    build_index(spark, documents.filter(F.col("doc_id") >= 300), delta, n_ckpt_batches=1, **BUILD)
    vdir = upsert_batch(spark, main, delta, key_cols=("doc_id",))
    assert catalog.ckpt_read(vdir, "merge")["upserted_docs"] == 0
    assert not os.path.exists(os.path.join(vdir, "_tombstones"))

    delete_docs(spark, main, [5, 1, 5, 7])
    tomb = os.path.join(catalog.resolve(main), "_tombstones")
    assert len([f for f in os.listdir(tomb) if f.endswith(".parquet")]) == 1
    got = sorted(r["docid"] for r in spark.read.parquet(tomb).collect())
    assert got == [1, 5, 5, 7]


def test_merge_type_hints_resolve():
    hints = typing.get_type_hints(upsert_batch)
    assert hints["key_cols"] == typing.Sequence[str]
