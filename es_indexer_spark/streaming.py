"""Incremental index maintenance via Structured Streaming.

The reference has no stream processing (SURVEY.md §2.10) — its incremental path
is the per-record upsert endpoint (indexer/.../IndexerMetadataServiceImpl.java:
415-451, `_id`-keyed so re-index is idempotent) plus full resumable rebuilds.
The Spark-idiomatic generalization: new documents arrive as a stream; each
micro-batch is built into a small *delta segment* (the full build pipeline) and
merged into the published index via the metadata-speed segment merge
(:mod:`es_indexer_spark.index.merge`). Readers always see a consistent
published version (the CURRENT pointer swap is atomic), exactly the
reference's alias-swap semantics per batch.

Cost model: a micro-batch costs mostly fixed overheads — per Spark job, and
per Python task a worker start of ~0.25 s CPU on a 4-vCPU host (the worker
calls ``importlib.invalidate_caches()`` every task, so each zipimporter
re-reads ``pyspark.zip``). Work that needs no Python stays in the JVM, the
encoder is sized by the batch's tokens, and the batch is persisted: the delta
build runs ~8 jobs over it, each of which would otherwise re-run the source.

Exactly-once: pair ``checkpoint_location`` (Spark's streaming WAL — a batch
re-delivered after a crash has the same batch_id) with TWO idempotence markers:
the per-batch manifest under ``<root>/_stream/``, and the batch_id recorded
inside the published version's ``_PUBLISHED`` manifest (written before the
atomic CURRENT swap). A crash between publish and manifest-write is therefore
recoverable: the replayed batch sees its id on the CURRENT version, rewrites
the manifest, and skips the merge — no double-count window.

The merge is APPEND-ONLY by default (see :func:`..index.merge.merge_indexes`):
a re-sent *document* (as opposed to a replayed batch) is indexed again under a
new docid. Pass ``upsert_keys=(...)`` to get the reference's ``_id``-keyed
overwrite instead: each batch tombstones the docs it supersedes into the
merged version (Lucene delete+add, atomic at the CURRENT swap).

Usage::

    q = index_stream(
        spark,
        spark.readStream.schema(sch).parquet(inbox),
        root, content_col="text", id_col=None, order_cols=("repo","path"),
        checkpoint_location=ckpt, trigger_available_now=True,
    )
    q.awaitTermination()
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.index import catalog
from es_indexer_spark.index.builder import build_index
from es_indexer_spark.index.merge import merge_indexes


# --------------------------------------------------------------- event-time ops
def windowed_event_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with a late-data watermark:
    (win_start, win_end, key, n_events, sum_value).

    Polymorphic over batch and streaming inputs — the SAME plan text:

    - streaming: ``withWatermark`` bounds the window state and drops events
      arriving later than ``watermark`` past the max observed event time
      (pytest drives this through two availableNow restarts of a file stream);
    - batch: the watermark is a no-op and the result is the complete history,
      which is what the ``windowed_counts`` DuckDB oracle checks (Spark's
      tumbling windows are epoch-aligned; so is date_trunc/time_bucket).

    This is the streaming generalization of A1 (partial+final hash agg —
    DataAccessServiceImpl.java:459-472 groups observations into per-month
    buckets; here the bucket is an event-time window and the pipeline keeps
    running)."""
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        src.groupBy(win.alias("w"), F.col(key_col).alias("key"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "key",
            "n_events",
            "sum_value",
        )
    )


_SESSION_OUT = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESSION_STATE = "start long, last long, n long"


def sessionize_stream(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session windows — the custom STATEFUL streaming operator that
    ``F.window``/``session_window`` aggregation cannot replace when the emit
    logic is bespoke: implemented with ``applyInPandasWithState``.

    A session for a user is a maximal run of events with consecutive gaps
    <= ``gap``. Sessions closed by a later event in the same batch are emitted
    immediately; the open tail lives in bounded per-user state with an
    EVENT-TIME timeout at ``last_event + gap`` — once the watermark passes it,
    Spark calls the function with ``hasTimedOut`` and the final session is
    flushed and its state removed. State is therefore bounded by the number of
    users active inside one watermark horizon, never by history length.

    Output: (user_id, session_start, session_end, n_events), update mode only.
    """
    import pandas as pd

    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)

    def fn(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [uid],
                    "session_start": [pd.Timestamp(start, unit="ms")],
                    "session_end": [pd.Timestamp(last, unit="ms")],
                    "n_events": [n],
                }
            )
            return
        rows = pd.concat(list(pdfs))
        # a null/NaT timestamp would become INT64_MIN under astype('int64'),
        # poisoning the open session's start/last and the event-time timeout —
        # drop them (watermarked upstreams shouldn't emit them, but a raw
        # source can)
        ts_ms = (
            rows[ts_col].dropna().astype("int64") // 1_000_000
        ).sort_values().to_numpy()  # ns -> ms, event-time order
        if ts_ms.size == 0:
            return
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = int(ts_ms[0]), int(ts_ms[0]), 0
        done_s, done_e, done_n = [], [], []
        for t in ts_ms:  # per-user per-batch events: small; sessions need order
            t = int(t)
            if n > 0 and t - last > gap_ms:
                done_s.append(start)
                done_e.append(last)
                done_n.append(n)
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(last + gap_ms)
        if done_s:
            yield pd.DataFrame(
                {
                    "user_id": uid,
                    "session_start": pd.to_datetime(done_s, unit="ms"),
                    "session_end": pd.to_datetime(done_e, unit="ms"),
                    "n_events": done_n,
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            _SESSION_OUT,
            _SESSION_STATE,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_events_stream(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: drop re-deliveries of the same key arriving
    within ``watermark`` of each other (``dropDuplicatesWithinWatermark`` —
    state is bounded by the watermark instead of growing forever, which is
    the only shape that survives an unbounded stream). The streaming member
    of the dedup family in :mod:`es_indexer_spark.ops.dedup`; on a batch
    DataFrame use :func:`..ops.dedup.exact_duplicates` instead."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def _batch_manifest(root: str, batch_id: int) -> str:
    return os.path.join(root, "_stream", f"batch_{batch_id}.json")


def make_batch_indexer(
    spark: SparkSession,
    root: str,
    *,
    content_col: str = "content",
    id_col: str | None = None,
    order_cols: Sequence[str] = ("repo", "path", "commit"),
    meta_cols: Sequence[str] = (),
    tokenizer: str = "standard",
    lang_col: str | None = None,
    n_buckets: int = 32,
    shard_size: int = 1 << 16,
    store_positions: bool = False,
    work_dir: str | None = None,
    upsert_keys: Sequence[str] | None = None,
):
    """Return a ``foreachBatch`` callback that delta-builds + merges each batch.

    Also directly callable on static DataFrames — ``fn(batch_df, batch_id)`` —
    which is how incremental *batch* ingestion (the reference's upsert path)
    uses it without a stream.

    ``upsert_keys``: when set, each batch REPLACES existing docs that match it
    on these docs-table columns (the reference's ``_id``-keyed overwrite —
    Lucene delete+add via :func:`es_indexer_spark.index.merge.upsert_batch`)
    instead of appending a second copy. Carry the external id as a meta
    column (``meta_cols=("doc_id",)``) so replacements keep matching across
    repeated upserts.
    """

    def _write_manifest(batch_id: int, vdir: str, n_docs) -> None:
        manifest = _batch_manifest(root, batch_id)
        os.makedirs(os.path.dirname(manifest), exist_ok=True)
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {"batch_id": batch_id, "version_dir": vdir, "n_docs": n_docs}, f
            )
        os.replace(tmp, manifest)

    def index_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifest = _batch_manifest(root, batch_id)
        if os.path.exists(manifest):  # replayed batch after restart → idempotent skip
            return
        # Crash window closure (exactly-once): the batch_id is recorded inside
        # the published version's _PUBLISHED manifest BEFORE the CURRENT swap.
        # If we crashed after publish but before writing our own manifest, the
        # replayed batch finds its id on the CURRENT version — recover the
        # manifest and skip instead of merging (and double-counting) again.
        cur = catalog.current_version(root)
        if cur is not None:
            vdir = os.path.join(root, cur)
            try:
                pub = catalog.ckpt_read(vdir, "_PUBLISHED")
            except FileNotFoundError:
                pub = {}
            if pub.get("stream_batch_id") == batch_id:
                _write_manifest(batch_id, vdir, pub.get("n_docs"))
                return
        # read the batch once: every job of the delta build reads the cache; a
        # batch the caller cached stays cached
        owned = batch_df.storageLevel == StorageLevel.NONE
        if owned:
            batch_df.persist()
        try:
            if len(batch_df.take(1)) == 0:
                return
            kwargs = dict(
                content_col=content_col,
                id_col=id_col,
                order_cols=order_cols,
                meta_cols=meta_cols,
                tokenizer=tokenizer,
                lang_col=lang_col,
                n_buckets=n_buckets,
                shard_size=shard_size,
                store_positions=store_positions,
                n_ckpt_batches=1,
                resume=False,
            )
            marker = {"stream_batch_id": batch_id}
            if catalog.current_version(root) is None:
                vdir = build_index(spark, batch_df, root, publish_meta=marker, **kwargs)
                merged_n = catalog.read_stats(vdir)["n_docs"]
            else:
                delta_root = tempfile.mkdtemp(
                    prefix=f"delta_b{batch_id}_", dir=work_dir
                )
                try:
                    build_index(spark, batch_df, delta_root, **kwargs)
                    if upsert_keys:
                        from es_indexer_spark.index.merge import upsert_batch

                        vdir = upsert_batch(
                            spark, root, delta_root,
                            key_cols=tuple(upsert_keys), publish_meta=marker,
                        )
                    else:
                        vdir = merge_indexes(
                            spark, root, delta_root, publish_meta=marker
                        )
                    merged_n = catalog.read_stats(vdir)["n_docs"]
                finally:
                    shutil.rmtree(delta_root, ignore_errors=True)
            _write_manifest(batch_id, vdir, merged_n)
        finally:
            if owned:
                batch_df.unpersist()

    return index_batch


def index_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    root: str,
    *,
    checkpoint_location: str,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
    **indexer_kwargs,
):
    """Attach the incremental indexer to a streaming DataFrame; returns the
    StreamingQuery. Each micro-batch publishes a new index version atomically."""
    fn = make_batch_indexer(spark, root, **indexer_kwargs)
    w = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    return w.start()
