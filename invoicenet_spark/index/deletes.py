"""Document tombstones — the Lucene liveDocs analog for this index.

A web index is churn-heavy: pages get taken down and re-crawled. The
reference is batch-only (one prepare → one model; removing a doc means
re-preparing the dataset, invoicenet/prepare_data.py), so the engine defines
the scalable semantics itself, following the segment-file playbook:

- `delete_docs` APPENDS a parquet file of doc_ids under <root>/deletes/ —
  O(deletes) work, never touches postings or docs. On an object store this
  is one PUT. Duplicate tombstones are harmless (the mask is a set union),
  which makes every writer retry-idempotent.
- Query paths MASK tombstoned docs inside the scoring kernels, BEFORE each
  shard's top-k selection (query/kernels.py `deleted=`) — so a deleted doc
  never occupies a top-k slot that should have gone to a live doc. Corpus
  stats (N, avgdl) and df stay as-built until maintenance runs, exactly like
  Lucene scoring against segments with deletions: masking is O(candidates),
  re-deriving stats would be a corpus-wide job per delete.
- `compact_index(purge_deletes=True)` physically drops tombstoned postings
  (the decode→re-encode pass anti-joins the tombstones), swaps in a purged
  docs tree, refreshes stats/df from the survivors, and clears the
  tombstones — the merge-drops-deletions step.
- Corpus-stat refreshes in between (`_finalize` after an incremental
  update) anti-join the tombstones so N/avgdl never count deleted docs that
  a purge hasn't reclaimed yet.

Scale shape: the query-time mask is per shard — memory ∝ a shard's
outstanding (un-purged) tombstones, the same bound as Lucene's in-heap
liveDocs, and reset by every purge. The serving path holds ONE sorted
int64 array per index generation, sliced per shard (`split_by_shard`). The
Spark path never materializes the ids on the driver: exec.search groups
(shard, doc_id) tombstone rows beside each shard's postings, so a kernel
group holds at most one shard's ids.

Visibility: writers bump the index generation (stats.json atomic rewrite)
after appending tombstones, so the serving cache (query/local.py) picks up
deletes without restarts; Spark-side `exec.Index` handles snapshot the
tombstone file list at load time (`list_tombstone_files`), like every
other part of the index they hold.
"""

from __future__ import annotations

import os

import numpy as np

from invoicenet_spark.index.build import IndexPaths


def _deletes_dir(paths: IndexPaths) -> str:
    return os.path.join(paths.root, "deletes")


# Above this many outstanding tombstones (~40 MB of int64 at the bound) the
# purge and corpus-stat anti-joins drop the broadcast hint (shuffle join):
# a churn-heavy index with 10^8 un-purged deletes must not OOM the driver
# or the broadcast. Tests monkeypatch this to exercise the big-set path.
TOMBSTONE_BROADCAST_MAX_IDS = 5_000_000


def tombstone_count_upper(paths: IndexPaths) -> int:
    """Row-count UPPER BOUND (pre-distinct) across tombstone segments, from
    parquet footers only — no scan. Duplicate tombstones can overstate the
    true set size, which only ever flips the guard toward the scalable
    path; never the reverse."""
    d = _deletes_dir(paths)
    if not _has_parquet(d):
        return 0
    import pyarrow.dataset as ds

    return ds.dataset(d, format="parquet").count_rows()


def maybe_broadcast_tombstones(tomb, paths: IndexPaths):
    """Broadcast the tombstone frame only below the size guard; above it the
    anti-join runs as a plain (shuffle) join."""
    from pyspark.sql import functions as F

    if tomb is None:
        return None
    if tombstone_count_upper(paths) <= TOMBSTONE_BROADCAST_MAX_IDS:
        return F.broadcast(tomb)
    return tomb


def bump_generation(paths: IndexPaths) -> None:
    """Atomically rewrite stats.json with identical content: its
    (mtime_ns, size) is the serving path's generation key, so this makes a
    metadata-only change (new tombstones) visible to cached serving
    handles."""
    with open(paths.stats) as f:
        content = f.read()
    tmp = paths.stats + ".tmp"
    with open(tmp, "w") as f:
        f.write(content)
    os.replace(tmp, paths.stats)


def write_tombstones(doc_ids_df, paths: IndexPaths, bump: bool = True) -> int:
    """Append one tombstone segment for a DataFrame of (doc_id long).

    Returns the number of ids written. Spark writes the parquet (the id set
    may be produced by a distributed join, e.g. upserts); a zero-row frame
    writes nothing. bump=False defers serving-cache visibility to a later
    commit point (the upsert flow: tombstones and the replacement docs
    become visible together at finalize's generation bump, so a url is
    never served by neither version)."""
    from pyspark.sql import functions as F

    ids = doc_ids_df.select(F.col("doc_id").cast("long")).distinct()
    n = ids.count()
    if n == 0:
        return 0
    ids.coalesce(max(1, n // 4_000_000 + 1)).write.mode("append").parquet(
        _deletes_dir(paths)
    )
    if bump and os.path.exists(paths.stats):
        bump_generation(paths)
    return n


def delete_docs(
    spark,
    root: str,
    doc_ids: list[int] | None = None,
    urls: list[str] | None = None,
) -> int:
    """Tombstone documents by engine doc_id or by url (resolved through the
    docs table). Returns the number of docs tombstoned (urls not present in
    the index resolve to nothing and are ignored)."""
    from pyspark.sql import functions as F

    paths = IndexPaths(root)
    if (doc_ids is None) == (urls is None):
        raise ValueError("pass exactly one of doc_ids / urls")
    if doc_ids is not None:
        df = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    else:
        urls_df = spark.createDataFrame([(u,) for u in urls], "url string")
        df = (
            spark.read.parquet(paths.docs)
            .join(F.broadcast(urls_df), "url")
            .select("doc_id")
        )
    return write_tombstones(df, paths)


def read_tombstones_spark(spark, paths: IndexPaths, files: list[str] | None = None):
    """Tombstones as a Spark DataFrame (doc_id long), or None when there are
    none — callers skip the anti-join entirely then. An id deleted twice
    appears twice: every consumer is an anti-join or dedups itself, so no
    distinct shuffle is paid here, and the explicit schema spares a
    footer-reading job. files: restrict to a snapshot from
    list_tombstone_files (the purge protocol: consume exactly what you will
    clear; exec.Index: mask exactly the deletes present at load time)."""
    if files is None:
        d = _deletes_dir(paths)
        files = [d] if _has_parquet(d) else []
    else:
        files = [f for f in files if f.endswith(".parquet")]
    if not files:
        return None
    return spark.read.schema("doc_id long").parquet(*files)


def load_tombstones(paths: IndexPaths) -> np.ndarray:
    """Tombstones as ONE sorted unique int64 array (pyarrow, no Spark) —
    what a query path holds in memory for masking."""
    import pyarrow.dataset as ds

    d = _deletes_dir(paths)
    if not _has_parquet(d):
        return np.zeros(0, dtype=np.int64)
    tbl = ds.dataset(d, format="parquet").to_table(columns=["doc_id"])
    return np.unique(tbl.column("doc_id").to_numpy().astype(np.int64))


def split_by_shard(deleted: np.ndarray, shard_size: int) -> dict[int, np.ndarray]:
    """Slice the sorted tombstone array into per-shard sorted arrays —
    kernels mask one shard at a time, so a shard's mask must not pay for
    the whole set."""
    if deleted.size == 0:
        return {}
    shards = deleted // shard_size
    bounds = np.flatnonzero(np.diff(shards)) + 1
    parts = np.split(deleted, bounds)
    return {int(p[0] // shard_size): p for p in parts}


def list_tombstone_files(paths: IndexPaths) -> list[str]:
    """Current tombstone data files — a purge snapshots this list BEFORE
    reading the tombstones it will consume, and later clears exactly these
    files, so deletes appended concurrently during the (long) purge job are
    never destroyed unconsumed."""
    d = _deletes_dir(paths)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if os.path.isfile(os.path.join(d, f)) and not f.startswith((".", "_"))
    )


def clear_tombstones(paths: IndexPaths, files: list[str] | None = None) -> int:
    """Remove tombstone files — called by a purge AFTER the purged
    postings+docs are committed (a crash in between leaves stale tombstones
    that mask already-absent ids: harmless no-ops). `files`: the snapshot
    taken at purge start (list_tombstone_files) — ONLY those are removed,
    so a delete_docs racing the purge keeps its tombstones and stays
    masked. None (no snapshot) clears everything. Returns files removed."""
    if files is None:
        files = list_tombstone_files(paths)
    removed = 0
    for full in files:
        try:
            os.remove(full)
            removed += 1
        except FileNotFoundError:
            pass  # already gone (idempotent retry)
    return removed


def _has_parquet(d: str) -> bool:
    return os.path.isdir(d) and any(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for f in os.listdir(d)
    )
