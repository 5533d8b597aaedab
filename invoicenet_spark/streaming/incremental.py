"""Incremental index maintenance from table snapshots (SURVEY.md §2.10).

The reference is batch-only; its closest streaming analogs are incremental
checkpoint-on-improvement (invoicenet/common/trainer.py:68-71) and the
prepare→train→predict lifecycle restart (invoicenet/acp/acp.py:66-72). The
engine's streaming surface is **snapshot-incremental index build**: given a
SnapshotTable of pages, index only rows appended since the last indexed
snapshot.

Design invariants:
- new docIDs start at the next shard boundary → new postings land only in
  NEW shard directories; committed segments are immutable (append-only).
- corpus stats (N, avgdl) and the terms dictionary ARE refreshed globally —
  cheap aggregates over postings/docs, no re-encode. Block-max bounds stay
  valid because blocks store (max_tf, min_dl), not baked scores
  (index/codec.py design note), so WAND pruning remains lossless under the
  new stats.
- `update_index` is idempotent per snapshot: the manifest records
  `indexed_snapshot_id`; re-running with no new snapshot is a no-op.
- crash-safe retries: the docs table is partitioned by `segment` (one
  directory per snapshot delta). Before any append, the manifest records
  `pending_segment`; a retry after a crash first removes that segment
  directory, so re-running a half-applied update can never duplicate doc
  rows or inflate N/avgdl. Postings shard commits are idempotent anyway
  (deterministic doc ids → identical shard content, overwritten in place).

A Structured Streaming driver (`stream_pages_to_index`) wires a file-source
stream into the same update path via foreachBatch — exactly-once per
micro-batch via the snapshot append + manifest commit.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession, functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.index.build import (
    IndexPaths,
    _encode_and_commit,
    _finalize,
    _load_manifest,
    _save_manifest,
    analyzed_pages,
    build_doc_table,
    build_index,
    cfg_from_manifest,
    tokens_from_pages,
)
from invoicenet_spark.index.shardlog import ShardLog
from invoicenet_spark.sources.snapshots import SnapshotTable


def update_index(
    spark: SparkSession,
    table: SnapshotTable,
    out_dir: str,
    cfg: EngineConfig | None = None,
    use_stored_text: bool = False,
    upsert: bool = True,
) -> dict:
    """Bring the index at out_dir up to the table's latest snapshot.

    upsert (default): a url re-appearing in the delta REPLACES its older
    indexed version — the old doc_id is tombstoned (index/deletes.py) in
    the same update, so a re-crawled page is served exactly once, at its
    newest content (last-writer-wins by snapshot order — the web-index
    semantic). Cost: one join of the delta's urls against the docs table
    per update; the tombstones are reclaimed by compaction's purge.
    upsert=False keeps pure append semantics (both versions searchable).

    Returns a summary dict {indexed_snapshot_id, docs_added, docs_upserted,
    seconds}.
    """
    cfg = cfg or EngineConfig()
    paths = IndexPaths(out_dir)
    current = table.current_snapshot_id()
    if current is None:
        raise ValueError("table has no snapshots")

    if not os.path.exists(paths.manifest):
        # cold start: full build of everything up to `current`
        t0 = time.time()
        build_index(
            spark, table.read(spark, as_of=current), out_dir, cfg,
            use_stored_text=use_stored_text,
        )
        manifest = _load_manifest(paths)
        manifest["indexed_snapshot_id"] = current
        _save_manifest(paths, manifest)
        n = manifest.get("docs_indexed_this_run", 0)
        return {"indexed_snapshot_id": current, "docs_added": n,
                "docs_upserted": 0, "seconds": round(time.time() - t0, 3)}

    manifest = _load_manifest(paths)
    cfg = cfg_from_manifest(manifest, cfg)  # persisted layout wins over caller's

    # retry hygiene: if a previous update crashed after appending its docs
    # segment but before committing, remove that segment — the delta will be
    # recomputed deterministically below
    pending_seg = manifest.get("pending_segment")
    if pending_seg:
        import shutil

        shutil.rmtree(
            os.path.join(paths.docs, f"segment={pending_seg}"), ignore_errors=True
        )
        manifest.pop("pending_segment")
        _save_manifest(paths, manifest)

    last = manifest.get("indexed_snapshot_id")
    delta = table.read_incremental(spark, after=last, until=current)
    if delta is None:
        return {"indexed_snapshot_id": last, "docs_added": 0,
                "docs_upserted": 0, "seconds": 0.0}

    t0 = time.time()
    docs_existing = spark.read.parquet(paths.docs)
    max_id = docs_existing.agg(F.max("doc_id")).collect()[0][0]
    # next shard boundary → committed shards stay immutable
    offset = ((int(max_id) // cfg.shard_size) + 1) * cfg.shard_size

    pages_text = tokens_from_pages(delta, cfg, use_stored_text=use_stored_text)
    with analyzed_pages(pages_text, cfg) as analyzed:
        docs_new = build_doc_table(analyzed, cfg, id_offset=offset)

        # re-crawl upsert: tombstone the EXISTING doc of every url the delta
        # re-delivers. Derived from docs_existing (file set snapshotted
        # BEFORE this delta's append) so a doc can never tombstone itself;
        # WRITTEN only after the new segment's postings commit (below).
        # Crash/ordering contract: mid-update (or crashed-before-tombstones)
        # the url is served by its OLD version — or transiently by BOTH
        # versions for a fresh reader in the commit→tombstone window — but
        # never by NEITHER; the exactly-once view is restored at _finalize's
        # generation bump (or the retry). Retry-idempotent: a retry
        # recomputes the same ids and duplicates union away.
        old_ids = (
            docs_existing.join(docs_new.select("url"), "url").select("doc_id")
            if upsert
            else None
        )

        # WAL-style: record the pending segment BEFORE the append so a crash
        # anywhere up to the final manifest commit is undone on retry
        segment = f"snap{current}"
        manifest["pending_segment"] = segment
        _save_manifest(paths, manifest)
        docs_new.withColumn("segment", F.lit(segment)).write.mode("append").partitionBy(
            "segment"
        ).parquet(paths.docs)
        # stored `shard` is advisory — derive from the layout (robust to any
        # earlier compaction having changed shard_size)
        docs_new = (
            spark.read.parquet(paths.docs)
            .where(F.col("doc_id") >= offset)
            .withColumn("shard", (F.col("doc_id") / F.lit(cfg.shard_size)).cast("long"))
        )

        new_shards = sorted(
            int(r["shard"]) for r in docs_new.select("shard").distinct().collect()
        )
        log = ShardLog(out_dir)
        observed = _encode_and_commit(
            spark, analyzed, docs_new, new_shards, cfg, paths, log
        )
        n_added = observed["n_docs"]
        n_upserted = 0
        if old_ids is not None:
            from invoicenet_spark.index.deletes import write_tombstones

            # after the replacement postings committed; bump=False — the
            # finalize below is the single visibility point for new docs AND
            # their predecessors' tombstones
            n_upserted = write_tombstones(old_ids, paths, bump=False)
    docs_all = spark.read.parquet(paths.docs)
    _finalize(spark, docs_all, cfg, paths, manifest, log, t0, observed)
    manifest = _load_manifest(paths)
    manifest["indexed_snapshot_id"] = current
    manifest.pop("pending_segment", None)
    _save_manifest(paths, manifest)
    return {
        "indexed_snapshot_id": current,
        "docs_added": n_added,
        "docs_upserted": n_upserted,
        "seconds": round(time.time() - t0, 3),
    }


def stream_pages_to_index(
    spark: SparkSession,
    source_dir: str,
    table_root: str,
    index_dir: str,
    cfg: EngineConfig | None = None,
    use_stored_text: bool = True,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
):
    """Structured Streaming ingestion: parquet file source → snapshot table
    append + incremental index update per micro-batch (foreachBatch gives
    exactly-once per batch against the snapshot/manifest commit protocol).

    Returns the StreamingQuery; caller drives it (processAllAvailable/stop).
    """
    cfg = cfg or EngineConfig()
    table = SnapshotTable(table_root)

    def handle_batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        table.append(batch_df)
        update_index(batch_df.sparkSession, table, index_dir, cfg,
                     use_stored_text=use_stored_text)

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(handle_batch)
        .trigger(availableNow=True)
        .start()
    )
