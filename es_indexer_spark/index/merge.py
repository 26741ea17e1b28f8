"""Index segment merge — the native analog of Lucene's segment merging (the
reference delegates this to Elasticsearch; SURVEY.md §0 pins "segment merge" as a
part the Spark engine must rebuild natively). Also the engine behind incremental
indexing (the reference's single-record upsert path,
indexer/.../IndexerMetadataServiceImpl.java:415-451, re-expressed as batch deltas:
build a small delta index over new docs, then merge — see
:mod:`es_indexer_spark.streaming`).

Unlike Lucene (which decodes and re-encodes postings on merge), this merge is a
**pure columnar metadata rewrite** — zero posting-bytes decode:

- the delta's docids are remapped by an ``offset`` rounded UP to a multiple of
  ``shard_size``; block gap/tf/dl payloads are docid-delta encoded, so adding a
  constant offset changes only ``first_docid``/``last_docid`` (stored columns)
  and shifts ``shard`` by exactly ``offset // shard_size`` — blocks stay
  shard-local and byte-identical;
- the merged ``avgdl`` differs from each segment's build-time avgdl, which
  invalidates the stored ``max_score_free`` bound (it grows with avgdl). Where
  the merged avgdl exceeds a segment's build avgdl, the block bound is replaced
  by the dl-independent safe bound ``max_tf*(k1+1)/(max_tf + k1*(1-b))`` (the
  dl→0 supremum of the BM25 tf factor) — always an upper bound, so block-max
  pruning stays rank-safe; exact scores are unaffected (they use in-block dls +
  the merged avgdl).

Cost: O(blocks + dict + docs) columnar transforms, one write per artifact. At
100 TB this is the difference between re-tokenizing the corpus and a
metadata-speed publish.
"""

from __future__ import annotations

import os
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from es_indexer_spark.index import catalog


def _safe_bound(k1: float, b: float):
    # dl-independent BM25 tf-factor supremum per block (valid for any avgdl)
    return (F.col("max_tf").cast("double") * (k1 + 1.0)) / (
        F.col("max_tf").cast("double") + k1 * (1.0 - b)
    )


def _segment_blocks(
    spark: SparkSession,
    vdir: str,
    seg_avgdl: float,
    merged_avgdl: float,
    k1: float,
    b: float,
    docid_offset: int,
    shard_size: int,
) -> DataFrame:
    blk = spark.read.parquet(os.path.join(vdir, "postings"))
    if merged_avgdl > seg_avgdl:
        blk = blk.withColumn("max_score_free", _safe_bound(k1, b))
    if docid_offset:
        blk = (
            blk.withColumn("first_docid", F.col("first_docid") + docid_offset)
            .withColumn("last_docid", F.col("last_docid") + docid_offset)
            .withColumn("shard", F.col("shard") + docid_offset // shard_size)
        )
    return blk


def merge_indexes(
    spark: SparkSession,
    main_root: str,
    delta_root: str,
    out_root: str | None = None,
    publish_meta: dict | None = None,
    reject_duplicate_shas: bool = False,
    tombstone_docids: DataFrame | None = None,
) -> str:
    """Merge the published versions of ``main_root`` and ``delta_root`` into a
    new version of ``out_root`` (default: ``main_root``), publish atomically,
    and return the new version dir.

    **Merge is APPEND-ONLY**: re-ingesting a document that already exists in
    the main segment assigns a new docid and keeps both copies (queries return
    both; df/cf count both). For the reference's `_id`-keyed upsert semantics
    (IndexerMetadataServiceImpl.java:430-435) use :func:`upsert_batch`, which
    tombstones the superseded main docs into the merged version (Lucene
    update = delete + add — still metadata-speed, no posting-bytes rewrite;
    df/cf keep counting the dead copies until
    :func:`..tombstones.compact_index`). Alternatively dedupe the delta
    upstream, or set ``reject_duplicate_shas=True`` to FAIL the merge when
    the delta's sha256 set overlaps the main segment's (detect, never
    silently double-count).

    Segments must share the index layout (n_buckets, shard_size, block_size,
    tokenizer, k1, b, positions) — enforced, since bucket assignment and
    shard-locality are layout-derived.
    """
    out_root = out_root or main_root
    mdir = catalog.resolve(main_root)
    ddir = catalog.resolve(delta_root)
    ms, ds = catalog.read_stats(mdir), catalog.read_stats(ddir)
    for key in ("n_buckets", "shard_size", "block_size", "tokenizer", "k1", "b", "positions"):
        if ms.get(key) != ds.get(key):
            raise ValueError(
                f"segment layout mismatch on {key!r}: {ms.get(key)} != {ds.get(key)}"
            )
    k1, b, shard_size = ms["k1"], ms["b"], ms["shard_size"]
    t0 = time.time()

    main_docs = spark.read.parquet(os.path.join(mdir, "docs"))
    delta_docs = spark.read.parquet(os.path.join(ddir, "docs"))
    if reject_duplicate_shas:
        n_dup = (
            delta_docs.select("sha256")
            .join(main_docs.select("sha256"), "sha256", "left_semi")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"merge rejected: {n_dup} delta doc(s) share sha256 with the "
                "main segment (append-only merge would double-count them; "
                "dedupe the delta upstream)"
            )
    max_docid = main_docs.agg(F.max("docid").alias("m")).collect()[0]["m"] or 0
    # round up to a shard boundary → delta blocks stay shard-local after offset
    offset = ((max_docid + shard_size) // shard_size) * shard_size

    n_m, n_d = ms["n_docs"], ds["n_docs"]
    merged_n = n_m + n_d
    merged_avgdl = (
        (ms["avgdl"] * n_m + ds["avgdl"] * n_d) / merged_n if merged_n else 1.0
    )

    version = catalog.next_version(out_root)
    vdir = os.path.join(out_root, version)
    os.makedirs(vdir, exist_ok=True)

    # ---- docs: union with remapped delta docids ---------------------------------
    docs = main_docs.unionByName(
        delta_docs.withColumn("docid", F.col("docid") + offset)
    )
    docs.repartitionByRange(4, "docid").sortWithinPartitions("docid").write.mode(
        "overwrite"
    ).parquet(os.path.join(vdir, "docs"))

    # ---- postings: columnar metadata rewrite, no decode -------------------------
    blocks = _segment_blocks(
        spark, mdir, ms["avgdl"], merged_avgdl, k1, b, 0, shard_size
    ).unionByName(
        _segment_blocks(
            spark, ddir, ds["avgdl"], merged_avgdl, k1, b, offset, shard_size
        )
    )
    # one merged batch dir; repartition+sort keeps file count at n_buckets and
    # preserves term row-group pruning (prevents small-file accumulation across
    # repeated incremental merges); bucket-dir partitioning keeps query-side
    # directory pruning (same layout as the builder)
    (
        blocks.drop("batch")
        .repartition(ms["n_buckets"], "bucket")
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(vdir, "postings", "batch=0"))
    )

    # ---- dict: additive merge (df/cf sum; bucket is hash-derived, identical) ----
    d = (
        spark.read.parquet(os.path.join(mdir, "dict"))
        .unionByName(spark.read.parquet(os.path.join(ddir, "dict")))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"), F.first("bucket").alias("bucket"))
    )
    d.repartitionByRange(4, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(os.path.join(vdir, "dict"))

    # ---- tombstones: logical deletes survive the merge (main verbatim, delta
    # remapped by the docid offset) — otherwise deleted docs would resurrect
    from es_indexer_spark.index import tombstones as _tombstones

    carried = _tombstones.carry(spark, mdir, vdir, 0) + _tombstones.carry(
        spark, ddir, vdir, offset
    )
    # upsert support: main-coordinate docids tombstoned INTO the merged
    # version only — the published main version stays untouched, so the old
    # copy disappears and its replacement appears in ONE CURRENT swap
    upserted = 0
    if tombstone_docids is not None:
        upserted = _tombstones.append_nonempty(spark, vdir, tombstone_docids)

    catalog.write_stats(
        vdir,
        {
            **ms,
            "n_docs": merged_n,
            "avgdl": merged_avgdl,
            "merged_from": [mdir, ddir],
        },
    )
    catalog.ckpt_write(
        vdir,
        "merge",
        {
            "stage": "merge",
            "main": mdir,
            "delta": ddir,
            "docid_offset": offset,
            "n_docs": merged_n,
            "carried_tombstones": carried,
            "upserted_docs": upserted,
            "elapsed_sec": round(time.time() - t0, 3),
        },
    )
    catalog.ckpt_write(
        vdir, "_PUBLISHED", {"version": version, "n_docs": merged_n, "src_count": merged_n,
                             "postings_emitted": None, **(publish_meta or {})},
    )
    catalog.publish(out_root, version)
    return vdir


def upsert_batch(
    spark: SparkSession,
    main_root: str,
    delta_root: str,
    key_cols: Sequence[str] = ("docid",),
    out_root: str | None = None,
    publish_meta: dict | None = None,
) -> str:
    """The reference's ``_id``-keyed upsert semantics
    (IndexerMetadataServiceImpl.java:430-435: ``_id = uuid`` makes re-index an
    idempotent overwrite) as the Lucene update = DELETE + ADD: main-segment
    docs whose ``key_cols`` match a delta doc are tombstoned into the merged
    version (not the published one), then the delta is merged metadata-speed.
    Readers flip from the old copy to its replacement in one atomic CURRENT
    swap — no window where the doc is missing. Re-running the same upsert is
    idempotent at the tombstone level (distinct) and append-only at the
    segment level; physical purge of the dead copies is
    :func:`es_indexer_spark.index.tombstones.compact_index`.

    ``key_cols``: the external-identity columns present in BOTH docs tables.
    ``("docid",)`` works for id_col-built indexes on the FIRST upsert only
    (replacements get remapped docids); pipelines that upsert repeatedly
    should carry the external id as a meta column (``meta_cols=("doc_id",)``)
    and key on that."""
    from es_indexer_spark.index import tombstones as _tombstones

    mdir = catalog.resolve(main_root)
    ddir = catalog.resolve(delta_root)
    main_docs = spark.read.parquet(os.path.join(mdir, "docs"))
    delta_keys = (
        spark.read.parquet(os.path.join(ddir, "docs"))
        .select(*key_cols)
        .distinct()
    )
    # only currently-LIVE matches are superseded (already-dead copies from a
    # previous upsert generation still match on the external key; re-deleting
    # them would be harmless but would inflate the upserted_docs metric)
    clash = _tombstones.filter_live(
        spark, mdir, main_docs.join(delta_keys, list(key_cols), "left_semi")
    ).select("docid")
    return merge_indexes(
        spark,
        main_root,
        delta_root,
        out_root=out_root,
        publish_meta=publish_meta,
        tombstone_docids=clash,
    )
