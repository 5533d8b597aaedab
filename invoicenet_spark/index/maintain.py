"""Index maintenance: shard compaction (the Lucene-merge-policy analog).

Incremental updates (streaming/incremental.py) append new docID-range
shards per snapshot delta; after many small deltas an index accumulates
many small shards, and every query fans its per-(query, shard) kernels
across all of them. `compact_index` re-shapes the index to a larger
shard_size WITHOUT touching the raw corpus: posting rows are decoded back
to (term_id, doc_id, doc_len, tf[, pos]) pair/token rows (lossless —
codec.decode_rows), then flow through the SAME
range-partition + sort + vectorized-encode pipeline as a fresh build. The
result is byte-identical to an index built from scratch at the new
shard_size (pinned by test), because the encoder is a deterministic
function of the pair rows.

Skipping extract + tokenize matters at scale: those are the dominant build
phases, and compaction touches only the (much smaller) encoded index.

Commit protocol: new shards write-and-commit through the same shard-log
path as builds (write to final dirs, log line = commit); old shards whose
docID range was absorbed are marked status="replaced" in the SAME batched
log append, and their data files become orphans for vacuum_postings().
Readers that opened the log before the append keep a consistent pre-compact
view (their file list still exists on disk until vacuum). Single
maintenance writer assumed, like any merge policy.

Constraints: new_shard_size must be a multiple of the current shard_size
(merged shards are unions of whole old docID ranges, so incremental
update's next-shard-boundary math stays aligned).
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import SparkSession

from invoicenet_spark.index.build import (
    IndexPaths,
    _finalize,
    _load_manifest,
    _save_manifest,
    cfg_from_manifest,
    range_encode,
    read_postings,
    write_and_commit_postings,
)
from invoicenet_spark.index.shardlog import ShardLog


def _flat_binary(col) -> np.ndarray:
    """ZERO-COPY concatenation of every value in a null-free Arrow binary
    array: the data buffer sliced by the first/last value offsets IS the
    byte concatenation — no per-row Python objects, no per-row copies."""
    import pyarrow as pa

    if col.null_count:
        raise ValueError("posting blob column must be null-free")
    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(col.buffers()[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ]
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return data[offs[0] : offs[-1]]


def _decode_partition(batches, positional: bool):
    """mapInArrow kernel: encoded posting rows → pair rows
    (term_id, doc_id, doc_len, tf) or token rows (…, pos) for positional
    indexes. Each batch is one run of rows for codec.decode_rows, its blob
    columns flattened zero-copy (Arrow offsets buffer): one varbyte call
    per stream per batch, no per-row Python objects."""
    import pyarrow as pa

    from invoicenet_spark.index.codec import BLOB_COLUMNS, decode_rows

    for batch in batches:
        if batch.num_rows == 0:
            continue
        counts = batch.column("df_shard").to_numpy()
        run = {"df_shard": counts}
        run.update((c, _flat_binary(batch.column(c))) for c in BLOB_COLUMNS)
        docs, tfs, dls, pos = decode_rows(run, with_positions=positional)
        tids = np.repeat(batch.column("term_id").to_numpy(), counts)
        if positional:
            # one token row per position
            arrays = [np.repeat(tids, tfs), np.repeat(docs, tfs), np.repeat(dls, tfs), pos]
            names = ["term_id", "doc_id", "doc_len", "pos"]
        else:
            arrays = [tids, docs, dls, tfs]
            names = ["term_id", "doc_id", "doc_len", "tf"]
        arrays[2] = arrays[2].astype(np.int32)
        yield pa.RecordBatch.from_arrays([pa.array(a) for a in arrays], names=names)


def compact_index(
    spark: SparkSession,
    root: str,
    new_shard_size: int,
    purge_deletes: bool = True,
) -> dict:
    """Merge small docID-range shards into shards of `new_shard_size` docs.

    Returns {"old_shards": n, "new_shards": m, "purged_docs": p,
    "seconds": s}. The compacted index is byte-identical to a fresh build at
    new_shard_size and serves queries identically (both pinned by
    tests/test_compaction.py); the manifest/stats record the new layout so
    later incremental updates align to the new boundaries.

    purge_deletes (default): tombstoned docs (index/deletes.py) are dropped
    during the decode→re-encode pass (the merge-drops-deletions step of the
    Lucene analogy), a purged docs tree is swapped in via ONE atomic
    manifest commit (IndexPaths.docs), stats/df are re-derived from the
    survivors, and the consumed tombstones are cleared. Crash ordering:
    postings commit → docs tree write → manifest commit → tombstone clear —
    a crash at any point leaves a consistent index (stale tombstones mask
    already-purged ids as no-ops; an uncommitted docs tree is an orphan for
    vacuum_docs_dirs).
    """
    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.index.deletes import (
        clear_tombstones,
        list_tombstone_files,
        read_tombstones_spark,
    )

    paths = IndexPaths(root)
    manifest = _load_manifest(paths)
    if not manifest.get("config"):
        raise ValueError(f"{root}: no manifest config — not an index")
    cfg = cfg_from_manifest(manifest, EngineConfig())
    if new_shard_size % cfg.shard_size:
        raise ValueError(
            f"new_shard_size {new_shard_size} must be a multiple of the "
            f"current shard_size {cfg.shard_size}"
        )
    t0 = time.time()
    log = ShardLog(root)
    old_shards = sorted(log.committed())
    positional = bool(cfg.with_positions)
    # snapshot the tombstone FILES first, consume exactly those, clear
    # exactly those at the end — deletes appended concurrently during the
    # purge job keep their files and stay masked until the next purge
    tomb_files = list_tombstone_files(paths) if purge_deletes else []
    tomb = read_tombstones_spark(spark, paths, files=tomb_files) if tomb_files else None
    # actually-purged count = docs before − survivors after (the doc_ids
    # delete path never validates existence, so the raw tombstone count can
    # overstate reclaims). parquet count(*) is metadata-only — no scan, no
    # extra join job.
    n_docs_before = spark.read.parquet(paths.docs).count() if tomb is not None else 0

    pairs = read_postings(spark, paths).mapInArrow(
        lambda it: _decode_partition(it, positional),
        schema=(
            "term_id long, doc_id long, doc_len int, "
            + ("pos long" if positional else "tf long")
        ),
    )
    if tomb is not None:
        # physical purge: drop tombstoned docs from the decoded pair rows —
        # the re-encode below then writes postings that never contained them.
        # Broadcast only below the tombstone size guard (deletes.py) — a
        # churn-heavy index purging 10^8 ids anti-joins via shuffle instead.
        from invoicenet_spark.index.deletes import maybe_broadcast_tombstones

        pairs = pairs.join(maybe_broadcast_tombstones(tomb, paths), "doc_id", "left_anti")
    encoded = range_encode(pairs, cfg, new_shard_size)
    new_shards = sorted({s * cfg.shard_size // new_shard_size for s in old_shards})
    # retire absorbed old shard ids in the SAME batched log append as the
    # new commits — a crash can never leave both an old shard and the new
    # shard covering its docID range visible together (ids colliding with a
    # new shard are re-committed with the new file list, which replaces the
    # old one under the log's field-merge semantics)
    retire = [
        {"shard": int(s), "status": "replaced"}
        for s in old_shards
        if s not in set(new_shards)
    ]
    write_and_commit_postings(encoded, new_shards, paths, log, also_append=retire)

    # Without a purge the docs table is NOT touched: the stored `shard`
    # column is advisory (consumers derive shard from doc_id + manifest
    # shard_size), so plain compaction mutates nothing outside the commit
    # log + new postings files. With a purge, the surviving docs are written
    # to a NEW generation directory and the manifest's docs_dir pointer is
    # the single atomic commit — readers never see a half-rewritten tree.
    if tomb is not None:
        gen = int(manifest.get("docs_gen", 1)) + 1
        new_docs_name = f"docs_g{gen}"
        from invoicenet_spark.index.deletes import maybe_broadcast_tombstones as _mbt

        (
            spark.read.parquet(paths.docs)
            .join(_mbt(tomb, paths), "doc_id", "left_anti")
            .write.mode("overwrite")
            .partitionBy("segment")
            .parquet(os.path.join(root, new_docs_name))
        )
        manifest["docs_dir"] = new_docs_name
        manifest["docs_gen"] = gen

    # persist the new layout (and the docs swap, if any) in ONE manifest
    # replace, then refresh terms/stats/metrics
    manifest.setdefault("config", {})["shard_size"] = int(new_shard_size)
    _save_manifest(paths, manifest)
    cfg = cfg_from_manifest(manifest, cfg)
    docs = spark.read.parquet(paths.docs)
    observed = {"n_docs": docs.count(), "posting_rows": 0, "n_postings": 0}
    n_purged = n_docs_before - observed["n_docs"] if tomb is not None else 0
    _finalize(spark, docs, cfg, paths, manifest, log, t0, observed)
    if tomb is not None:
        # consumed tombstones: purged postings/docs no longer contain these
        # ids, so the masks are no-ops — clear AFTER everything committed,
        # and ONLY the snapshot's files (concurrent deletes survive)
        clear_tombstones(paths, tomb_files)
    return {
        "old_shards": len(old_shards),
        "new_shards": len(new_shards),
        "purged_docs": n_purged,
        "seconds": round(time.time() - t0, 3),
    }
