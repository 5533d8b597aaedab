"""Distributed inverted-index construction (the `prepare_data.py` path).

Reference lifecycle (SURVEY.md §3.1): glob scan → per-doc rasterize/OCR →
n-gram candidates → hashed dictionaries → sparse candidate store → JSON sink,
parallelized by a process pool (prepare_data.py:113-120). The engine re-plans
it Spark-first:

  pages ──filter(lang)──> extract_text (Arrow UDF, narrow)
        ──analyze ONCE (JVM codegen, persisted)──> token arrays per doc
        ──posexplode──> token rows (term, doc_id, doc_len[, pos])
        ──ONE shuffle: repartitionByRange(term_id, shard) + sortWithinPartitions──>
        ──mapInArrow vectorized encoder (tf = run length)──> postings rows
        ──write parquet partitioned by shard (per-shard commit = lineage)
  terms dictionary + corpus stats aggregated FROM the committed postings
  (df = Σ df_shard), so the build is a single pass over the token stream.
  Every index writer (build_index, update_index, build_index_range,
  prepare_global_artifacts) goes through the same analyze step
  (analyzed_pages) and the same token rows (_token_rows).

Skew (north_rule): posting lists are sharded by docID range
(shard = doc_id // shard_size), so a Zipfian head term's postings are spread
over all shards — structurally equivalent to salting the hot key, but the
"salt" is the docID range itself, which keeps each (term, shard) run sorted
and makes the final index the concatenation of shard outputs: the two-phase
salted merge collapses into phase one. No (term, shard) group can exceed
shard_size docs, so no straggler task exists by construction; AQE skew-join
handling stays on as a backstop.

Resumability (north_rule): phase 1 commits the doc dictionary; phase 2
writes postings parquet straight to the final shard=N directories and
commits shard-by-shard via the shard log (index/shardlog.py) — each commit
is ONE appended line carrying the shard's data-file list; the log line is
the sole commit point (object-store-shaped: plain write-to-final-path PUTs,
no staging dir, no driver rename loop, never a rewrite of global state);
phase 3 derives terms + stats from committed shards and batch-appends
per-shard metrics (n_terms, n_postings, bytes) to the same log. `build_index(..., resume=True)` reads the committed set from
the log, skips those shards, and re-tokenizes only the pages belonging to
missing ones — per-partition lineage like the reference's best-checkpoint
restore (invoicenet/common/trainer.py:68-71, acp/acp.py:66-72).
manifest.json holds only fixed-size global state (config, stats, metrics).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.functions.analyzer import analyze_col
from invoicenet_spark.functions.extract import extract_pages_arrow
from invoicenet_spark.functions.ids import assign_dense_ids
from invoicenet_spark.index.codec import vb_encode
from invoicenet_spark.index.shardlog import ShardLog


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        """Current docs tree. Manifest-driven (`docs_dir`) so a purge can
        swap in a rewritten tree with ONE atomic manifest replace — readers
        flip from the old tree to the new one at a single commit point and
        never observe a half-rewritten directory; the old tree becomes an
        orphan for vacuum_docs_dirs(). Fresh builds (no manifest yet) and
        never-purged indexes use the default "docs"."""
        try:
            with open(self.manifest) as f:
                name = json.load(f).get("docs_dir", "docs")
        except (OSError, ValueError):
            name = "docs"
        return os.path.join(self.root, name)

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest.json")


def _parquet_basenames(postings_root: str, shard: int) -> set[str]:
    """Data-file basenames currently present in one shard directory."""
    d = os.path.join(postings_root, f"shard={shard}")
    if not os.path.isdir(d):
        return set()
    return {
        f
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    }


def committed_postings_files(paths: IndexPaths) -> list[str] | None:
    """Absolute paths of COMMITTED postings data files per the shard log —
    the reader half of the object-store commit protocol (files written by a
    crashed, never-committed run are excluded). Returns None for legacy
    indexes whose log lines carry no file lists (fall back to a directory
    scan) or when the log is empty."""
    entries = ShardLog(paths.root).entries()
    files: list[str] = []
    saw_committed = False
    for shard, rec in entries.items():
        if rec.get("status") != "committed":
            continue
        saw_committed = True
        fl = rec.get("files")
        if fl is None:
            return None  # pre-protocol index: directory scan is authoritative
        files.extend(
            os.path.join(paths.postings, f"shard={shard}", f) for f in fl
        )
    if not saw_committed:
        return None
    # an all-empty-file-list committed state is NOT legacy: return [] so
    # readers serve the (legitimately empty) committed view instead of
    # falling back to a directory scan that could expose orphans
    return sorted(files)


def read_postings(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """Postings DataFrame from the committed file list (basePath keeps the
    hive `shard=` partition column); directory scan for legacy indexes."""
    files = committed_postings_files(paths)
    if files is None:
        return spark.read.parquet(paths.postings)
    if not files:
        # POSTINGS_SCHEMA already carries `shard` (the encode output schema);
        # appending it again gave an ambiguous duplicate column downstream
        return spark.createDataFrame([], POSTINGS_SCHEMA)
    return spark.read.option("basePath", paths.postings).parquet(*files)


def vacuum_postings(paths: IndexPaths) -> list[str]:
    """Delete data files not referenced by any committed log entry (orphans
    from crashed runs). Safe only when no concurrent build is writing.
    Returns the deleted paths."""
    files = committed_postings_files(paths)
    if files is None:
        return []
    keep = set(files)
    removed = []
    if not os.path.isdir(paths.postings):
        return []
    for d in os.listdir(paths.postings):
        full_d = os.path.join(paths.postings, d)
        if not (d.startswith("shard=") and os.path.isdir(full_d)):
            continue
        for f in os.listdir(full_d):
            full = os.path.join(full_d, f)
            if (
                f.endswith(".parquet")
                and not f.startswith((".", "_"))
                and full not in keep
            ):
                os.remove(full)
                removed.append(full)
    return removed


def vacuum_docs_dirs(paths: IndexPaths) -> list[str]:
    """Remove docs trees other than the one the manifest points at —
    orphans left by a purge's atomic docs-dir swap. Safe only when no
    reader opened the index before the swap is still running (same
    contract as vacuum_postings). Returns the removed directories."""
    import shutil

    current = os.path.realpath(paths.docs)
    removed = []
    for d in os.listdir(paths.root):
        full = os.path.join(paths.root, d)
        if (
            (d == "docs" or d.startswith("docs_g"))
            and os.path.isdir(full)
            and os.path.realpath(full) != current
        ):
            shutil.rmtree(full)
            removed.append(full)
    return removed


POSTINGS_SCHEMA = (
    "term_id long, shard long, df_shard long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, pos_blob binary, "
    "block_last array<long>, block_doc_off array<int>, block_tf_off array<int>, "
    "block_dl_off array<int>, block_pos_off array<int>, "
    "block_max_tf array<long>, block_min_dl array<long>"
)


# ------------------------------------------------------------ encode kernel --
def _byte_lens(v: np.ndarray) -> np.ndarray:
    """varbyte byte-length per value (vectorized over byte positions)."""
    nb = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nb += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    return nb


def _encode_plists_arrow(
    term_ids_g: np.ndarray,
    shards_g: np.ndarray,
    docs_p: np.ndarray,
    tf: np.ndarray,
    dl_p: np.ndarray,
    g_start: np.ndarray,
    block_size: int,
    pos_flat: np.ndarray | None = None,
) -> "pa.RecordBatch":
    """Encode posting-level arrays into one output row per (term_id, shard).

    term_ids_g/shards_g: one entry per GROUP; docs_p/tf/dl_p: posting-level
    arrays, doc_id ascending within group; g_start: group start offsets into
    the posting-level arrays.

    Fully vectorized: varbyte over the whole frame in one call; per-group
    blob slicing expressed as a zero-copy BinaryArray over (offsets, one
    data buffer); block metadata via reduceat. No per-posting Python.
    """
    import pyarrow as pa

    m = docs_p.size
    g_end = np.append(g_start[1:], m)
    g_sizes = g_end - g_start

    # --- docID deltas (reset to absolute at group start)
    deltas = np.diff(docs_p, prepend=np.int64(0))
    deltas[g_start] = docs_p[g_start]
    deltas_u = deltas.astype(np.uint64)
    tf_u = tf.astype(np.uint64)
    dl_u = dl_p.astype(np.uint64)

    # --- one varbyte call per stream, then slice per group. The per-posting
    # doc_len stream (≈2 B/posting) makes posting rows SELF-CONTAINED for
    # BM25 scoring: the query path needs no corpus-wide forward-index join,
    # which at web scale would read doc_len arrays for every shard.
    doc_blob_b = vb_encode(deltas_u)
    tf_blob_b = vb_encode(tf_u)
    dl_blob_b = vb_encode(dl_u)
    nb_doc = _byte_lens(deltas_u)
    nb_tf = _byte_lens(tf_u)
    nb_dl = _byte_lens(dl_u)
    doc_ends = np.cumsum(nb_doc)
    tf_ends = np.cumsum(nb_tf)
    dl_ends = np.cumsum(nb_dl)
    doc_starts_b = doc_ends - nb_doc
    tf_starts_b = tf_ends - nb_tf
    dl_starts_b = dl_ends - nb_dl

    # --- block structure: ordinal within group, block = ordinal // block_size
    ordinal = np.arange(m, dtype=np.int64) - np.repeat(g_start, g_sizes)
    b_start = np.flatnonzero((ordinal % block_size) == 0)
    b_end = np.append(b_start[1:], m)
    b_group = np.searchsorted(g_start, b_start, side="right") - 1
    block_last_all = docs_p[b_end - 1]
    block_max_tf_all = np.maximum.reduceat(tf, b_start)
    block_min_dl_all = np.minimum.reduceat(dl_p, b_start)
    blocks_per_group = np.bincount(b_group, minlength=g_start.size)
    block_off = np.concatenate(([0], np.cumsum(blocks_per_group))).astype(np.int32)

    block_doc_off_all = (doc_starts_b[b_start] - doc_starts_b[g_start][b_group]).astype(np.int32)
    block_tf_off_all = (tf_starts_b[b_start] - tf_starts_b[g_start][b_group]).astype(np.int32)
    block_dl_off_all = (dl_starts_b[b_start] - dl_starts_b[g_start][b_group]).astype(np.int32)

    # --- optional position stream (phrase queries): per-posting ascending
    # positions, delta-encoded with an absolute restart at each posting
    # (posting boundaries are recoverable from the tf stream, so no extra
    # offsets per posting are stored — only per block).
    if pos_flat is not None:
        p_cum = np.concatenate(([0], np.cumsum(tf)))  # posting starts in flat
        pdeltas = np.diff(pos_flat, prepend=np.int64(0))
        pdeltas[p_cum[:-1]] = pos_flat[p_cum[:-1]]
        pdeltas_u = pdeltas.astype(np.uint64)
        pos_blob_b = vb_encode(pdeltas_u)
        nb_pos = _byte_lens(pdeltas_u)
        pos_ends = np.cumsum(nb_pos)
        pos_starts_b = pos_ends - nb_pos
        # byte offset of posting i's positions = pos_starts_b[p_cum[i]]
        post_pos_off = np.append(pos_starts_b[p_cum[:-1]], pos_ends[-1])
    else:
        pos_blob_b = b""
        post_pos_off = np.zeros(m + 1, dtype=np.int64)

    # --- assemble Arrow arrays (no per-group Python objects)
    n_groups = g_start.size
    g_doc_off = np.append(doc_starts_b[g_start], doc_ends[-1]).astype(np.int32)
    g_tf_off = np.append(tf_starts_b[g_start], tf_ends[-1]).astype(np.int32)
    g_dl_off = np.append(dl_starts_b[g_start], dl_ends[-1]).astype(np.int32)
    g_pos_off = np.append(post_pos_off[g_start], post_pos_off[-1]).astype(np.int32)
    block_pos_off_all = (post_pos_off[b_start] - post_pos_off[g_start][b_group]).astype(
        np.int32
    )

    def _binary(offsets: np.ndarray, data: bytes) -> pa.Array:
        return pa.Array.from_buffers(
            pa.binary(), n_groups, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)]
        )

    def _list(values: np.ndarray, pa_type) -> pa.Array:
        return pa.ListArray.from_arrays(
            pa.array(block_off, type=pa.int32()), pa.array(values, type=pa_type)
        )

    arrays = [
        pa.array(term_ids_g.astype(np.int64)),
        pa.array(shards_g.astype(np.int64)),
        pa.array(g_sizes.astype(np.int64)),
        _binary(g_doc_off, doc_blob_b),
        _binary(g_tf_off, tf_blob_b),
        _binary(g_dl_off, dl_blob_b),
        _binary(g_pos_off, pos_blob_b),
        _list(block_last_all.astype(np.int64), pa.int64()),
        _list(block_doc_off_all, pa.int32()),
        _list(block_tf_off_all, pa.int32()),
        _list(block_dl_off_all, pa.int32()),
        _list(block_pos_off_all, pa.int32()),
        _list(block_max_tf_all.astype(np.int64), pa.int64()),
        _list(block_min_dl_all.astype(np.int64), pa.int64()),
    ]
    names = [
        "term_id", "shard", "df_shard", "doc_blob", "tf_blob", "dl_blob", "pos_blob",
        "block_last", "block_doc_off", "block_tf_off", "block_dl_off", "block_pos_off",
        "block_max_tf", "block_min_dl",
    ]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _encode_partition(batches, block_size: int, shard_size: int):
    """mapInArrow kernel over sorted posting input rows, range-partitioned
    on (term_id, doc_id // shard_size) and sorted by (term_id, doc_id[, pos])
    within the partition: token rows (term_id long, doc_id long, doc_len
    int[, pos]) from the build, or decoded pair rows carrying a `tf` column
    from compaction (see _encode_rows).

    All-numeric row stream — no strings cross the Arrow boundary (the term
    dictionary is joined in the JVM beforehand; collect_list group rows
    GC-thrashed the JVM at 10^6 docs). The trailing incomplete
    (term_id, shard) group is carried across batch boundaries so groups are
    never split (SURVEY.md §4 custom pieces #1/#3).
    """
    import pyarrow as pa

    pending: pa.Table | None = None
    for batch in batches:
        tbl = pa.Table.from_batches([batch])
        if pending is not None and pending.num_rows:
            tbl = pa.concat_tables([pending, tbl]).combine_chunks()
        n = tbl.num_rows
        if n == 0:
            continue
        tids = tbl.column("term_id").to_numpy()
        docs = tbl.column("doc_id").to_numpy()
        shards = docs // shard_size
        tail_mask = (tids == tids[-1]) & (shards == shards[-1])
        cut = int(n - tail_mask[::-1].argmin()) if not tail_mask.all() else 0
        if cut == 0:
            pending = tbl  # whole table is one group; keep accumulating
            continue
        pending = tbl.slice(cut)
        yield _encode_rows(tbl.slice(0, cut).combine_chunks(), block_size, shard_size)
    if pending is not None and pending.num_rows:
        yield _encode_rows(pending.combine_chunks(), block_size, shard_size)


def _encode_rows(tbl: "pa.Table", block_size: int, shard_size: int) -> "pa.RecordBatch":
    """Token rows (term_id, doc_id, doc_len[, pos]) OR pair rows
    (term_id, doc_id, doc_len, tf) → grouped posting rows.

    Token rows — every build — arrive sorted by (term_id, doc_id[, pos]):
    run-length over (term_id, doc_id) yields tf, and a pos column becomes
    the per-posting position stream. Pair rows are compaction's decoded
    non-positional postings (index/maintain.py), which carry tf already."""
    tids = tbl.column("term_id").to_numpy()
    docs = tbl.column("doc_id").to_numpy().astype(np.int64)
    dl = tbl.column("doc_len").to_numpy().astype(np.int64)
    n = tids.size
    pos_flat = (
        tbl.column("pos").to_numpy().astype(np.int64)
        if "pos" in tbl.column_names
        else None
    )
    if "tf" in tbl.column_names:
        tf = tbl.column("tf").to_numpy().astype(np.int64)
        tids_p, docs_p, dl_p = tids, docs, dl
    else:
        new_posting = np.ones(n, dtype=bool)
        new_posting[1:] = (tids[1:] != tids[:-1]) | (docs[1:] != docs[:-1])
        p_start = np.flatnonzero(new_posting)
        tf = np.diff(np.append(p_start, n)).astype(np.int64)
        tids_p, docs_p, dl_p = tids[p_start], docs[p_start], dl[p_start]
    shards_p = docs_p // shard_size
    m = tids_p.size
    new_group = np.ones(m, dtype=bool)
    new_group[1:] = (tids_p[1:] != tids_p[:-1]) | (shards_p[1:] != shards_p[:-1])
    g_start = np.flatnonzero(new_group)
    return _encode_plists_arrow(
        tids_p[g_start], shards_p[g_start], docs_p, tf, dl_p, g_start, block_size,
        pos_flat=pos_flat,
    )


# ------------------------------------------------------------------- build --
def tokens_from_pages(pages: DataFrame, cfg: EngineConfig, use_stored_text: bool = False):
    """pages → (url, text) — or (url, <field>...) for fielded indexes —
    after the language gate + extraction.

    Extraction runs arrow-native (pc.extract_regex in C++ via mapInArrow) —
    the html bytes and extracted text never materialize as Python objects.

    `warc_ts` rides along when the pages frame has it (build_doc_table
    persists it as a doc-values column and _finalize records the segment
    [ts_min, ts_max] — the federated time-pruning key)."""
    gated = pages.where(F.col("lang").isin(*cfg.index_langs))
    ts = ["warc_ts"] if "warc_ts" in pages.columns else []
    if cfg.fields:
        if use_stored_text:
            return gated.select("url", *ts, *cfg.fields)
        if tuple(cfg.fields) != ("title", "body"):
            raise ValueError(
                "html extraction supports fields=('title','body'); other "
                "field sets need use_stored_text with one column per field"
            )
        from invoicenet_spark.functions.extract import extract_title_body_arrow

        return extract_title_body_arrow(
            gated.select("url", *ts, "html"), keep=("url", *ts)
        )
    if use_stored_text:
        return gated.select("url", *ts, "text")
    return extract_pages_arrow(
        gated.select("url", *ts, "html"),
        keep=("url", *ts),
        strategy=cfg.extract_strategy,
    )


def _toks_cols(cfg: EngineConfig) -> dict[str, str]:
    """Text column → its analyzed token-array column: `text` → `_toks`, or
    one `_toks_<field>` per field of a fielded index."""
    if cfg.fields:
        return {f: f"_toks_{f}" for f in cfg.fields}
    return {"text": "_toks"}


@contextmanager
def analyzed_pages(pages_text: DataFrame, cfg: EngineConfig):
    """The ONE analyze step every index writer goes through: pages_text
    (tokens_from_pages output) → (url[, warc_ts][, stored text], token
    arrays), persisted MEMORY_AND_DISK while the writer runs and dropped on
    exit. Doc lengths (build_doc_table), the term dictionary and the encode
    (_token_rows) only read the arrays, so extraction and the analyzer chain
    run once per write. At 100 TB the equivalent is materializing extracted
    text once as a snapshot (the use_stored_text path)."""
    from pyspark.storagelevel import StorageLevel

    toks = _toks_cols(cfg)
    ts = ["warc_ts"] if "warc_ts" in pages_text.columns else []
    stored = list(toks) if cfg.store_text else []
    analyzed = pages_text.select(
        "url",
        *ts,
        *stored,
        *[
            analyze_col(c, cfg.token_pattern, cfg.stopwords, cfg.stem).alias(t)
            for c, t in toks.items()
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield analyzed
    finally:
        analyzed.unpersist()


def _token_rows(frame: DataFrame, cfg: EngineConfig, *carry: str) -> DataFrame:
    """Columns (term, *carry, doc_len, pos): one row per analyzed token of a
    frame holding the analyzed_pages token arrays. doc_len is the token
    count the posting normalizes by (computed BEFORE the explode, so the
    array never rides along with each token row) and pos the token's
    0-based ordinal.

    On a fielded index the term is the dictionary key `field:token`
    (Lucene's per-field term dictionary), doc_len the FIELD length and pos
    the per-field ordinal, so every posting row is self-contained for
    per-field BM25 normalization with zero codec change, and proximity
    never crosses a field boundary. All fields explode in ONE scan: a
    union-of-selects would scan the frame (the pages ⋈ docs join) once per
    field and double-fire its row-count Observation."""
    if not cfg.fields:
        return frame.select(
            *carry, "_toks", F.size("_toks").alias("doc_len")
        ).select(F.posexplode("_toks").alias("pos", "term"), *carry, "doc_len")

    def _structs(f: str):
        toks = F.col(f"_toks_{f}")
        return F.transform(
            toks,
            lambda t, i: F.struct(
                F.concat(F.lit(f + ":"), t).alias("term"),
                F.size(toks).alias("doc_len"),
                i.alias("pos"),
            ),
        )

    return frame.select(
        *carry,
        F.explode(F.flatten(F.array(*[_structs(f) for f in cfg.fields]))).alias("x"),
    ).select("x.term", *carry, "x.doc_len", "x.pos")


def build_doc_table(pages_text: DataFrame, cfg: EngineConfig, id_offset: int = 0) -> DataFrame:
    """(doc_id, url, doc_len, shard): dense docIDs by url rank (ids.py).
    pages_text is an analyzed_pages frame: doc_len is the size of its token
    arrays, nothing is re-analyzed.

    id_offset: first docID to assign — incremental builds pass the next
    shard-aligned boundary so new docs land in fresh shards and committed
    posting shards are never rewritten (append-only segments).

    Fielded indexes additionally persist per-field token lengths
    (dl_<field>) — the BM25F normalization inputs; doc_len stays the total.

    `warc_ts` (when the pages frame carries it — the Iceberg webtext input
    shape) is kept as a nullable doc-values column: per-doc crawl time for
    filter-context predicates, and the source of the segment-level
    (ts_min, ts_max) range stats.json records for federated time pruning
    (query/federate.py). Absent in the input → a null column, so the docs
    schema is stable across sources.
    """
    ts_col = (
        [F.col("warc_ts")]
        if "warc_ts" in pages_text.columns
        else [F.lit(None).cast("timestamp").alias("warc_ts")]
    )
    toks = _toks_cols(cfg)
    stored = list(toks) if cfg.store_text else []
    if cfg.fields:
        with_len = pages_text.select(
            "url", *[F.size(t).alias(f"dl_{f}") for f, t in toks.items()], *ts_col, *stored
        ).withColumn("doc_len", sum(F.col(f"dl_{f}") for f in cfg.fields))
    else:
        with_len = pages_text.select(
            "url", F.size("_toks").alias("doc_len"), *ts_col, *stored
        )
    docs = assign_dense_ids(with_len, key="url", id_col="doc_id", num_partitions=cfg.build_partitions)
    if id_offset:
        docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(id_offset))
    return docs.withColumn("shard", (F.col("doc_id") / F.lit(cfg.shard_size)).cast("long"))


def dedup_pages_exact(pages_text: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Index-time exact deduplication (the web-index ingest step): among
    pages with byte-identical EXTRACTED text, keep the lexicographically
    smallest url — deterministic under any partitioning. One shuffle keyed
    by a 32-byte hash (skew-free: equal texts collapse to one group whose
    size is the duplicate multiplicity), same scale shape as ops/dedup.py's
    exact pass. Fielded inputs hash the field concatenation with a
    separator so ("ab","c") never collides with ("a","bc")."""
    from pyspark.sql import Window

    cols = list(cfg.fields) if cfg.fields else ["text"]
    h = F.sha2(F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit("")) for c in cols]), 256)
    w = Window.partitionBy("_h").orderBy("url")
    return (
        pages_text.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: EngineConfig | None = None,
    resume: bool = False,
    fail_after_shards: int | None = None,
    use_stored_text: bool = False,
    dedup_exact: bool = False,
) -> IndexPaths:
    """Full index build. See module docstring for the plan shape.

    dedup_exact: drop exact-duplicate documents (identical extracted text;
    smallest url wins) before indexing — the result is byte-identical to
    building over a pre-deduplicated corpus. Within one build's input only;
    cross-snapshot duplicates are the upsert path's territory.

    fail_after_shards: test hook — commit only the first k shards then raise,
    to exercise resume (FIXTURES.md invariant 6).
    """
    cfg = cfg or EngineConfig()
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    if resume:
        manifest = _load_manifest(paths)
        cfg = cfg_from_manifest(manifest, cfg)  # persisted layout wins
    else:
        manifest = {"config": _cfg_dict(cfg)}
    log = ShardLog(out_dir)

    pages_text = tokens_from_pages(pages, cfg, use_stored_text=use_stored_text)
    if dedup_exact:
        pages_text = dedup_pages_exact(pages_text, cfg)

    with analyzed_pages(pages_text, cfg) as analyzed:
        # ---- phase 1: doc dictionary (committed once; reused on resume).
        # Written partitioned by `segment` so incremental appends are
        # per-segment directories — an aborted update is undone by removing
        # one directory.
        if resume and os.path.exists(paths.docs):
            docs = spark.read.parquet(paths.docs)
        else:
            t0 = time.time()
            build_doc_table(analyzed, cfg).withColumn(
                "segment", F.lit("base")
            ).write.mode("overwrite").partitionBy("segment").parquet(paths.docs)
            docs = spark.read.parquet(paths.docs)
            manifest["phase1_sec"] = round(time.time() - t0, 3)
        # the stored `shard` column is advisory — derive it from the LAYOUT
        # (manifest shard_size) so it can never go stale (compaction changes
        # shard_size without rewriting the docs table)
        docs = docs.withColumn(
            "shard", (F.col("doc_id") / F.lit(cfg.shard_size)).cast("long")
        )

        all_shards = sorted(
            int(r["shard"]) for r in docs.select("shard").distinct().collect()
        )
        done = log.committed()
        pending = [s for s in all_shards if s not in done]

        # ---- phase 2: postings, committed per shard (lineage granularity)
        t0 = time.time()
        observed = {"n_docs": 0, "posting_rows": 0, "n_postings": 0}
        if pending:
            docs_pending = docs.where(F.col("shard").isin(pending))
            observed = _encode_and_commit(
                spark, analyzed, docs_pending, pending, cfg, paths, log,
                fail_after_shards,
            )

    # ---- phase 3: terms dictionary + corpus stats + metrics
    _finalize(spark, docs, cfg, paths, manifest, log, t0, observed)
    return paths


def _encode_and_commit(
    spark,
    analyzed: DataFrame,
    docs_pending: DataFrame,
    pending: list[int],
    cfg: EngineConfig,
    paths: IndexPaths,
    log: ShardLog,
    fail_after_shards: int | None = None,
) -> dict:
    """Token rows + one range shuffle + vectorized encode + per-shard
    directory commit, over an analyzed_pages frame. Returns {"n_docs",
    "posting_rows", "n_postings"} — all measured with Observation (A6/A7:
    metrics ride the job's own actions instead of re-aggregating with extra
    jobs)."""
    from pyspark.sql import Observation

    obs_docs = Observation()
    obs_enc = Observation()
    # the join brings doc_id onto the token arrays; on a fresh build it is
    # the only wide op before the encode's one exchange. From here:
    #   token rows --distinct term--> term dictionary (appended segments)
    #   token rows ⋈ dictionary --repartitionByRange(term_id, shard) + sort-->
    #       mapInArrow kernel (tf = run length over (term_id, doc_id))
    # The Python boundary carries all-numeric token rows (term_id, doc_id,
    # doc_len[, pos]); pos is projected away before the exchange on a
    # non-positional index. shard is an expression (doc_id // shard_size),
    # never a shuffled column, and bounds every (term, shard) group at
    # shard_size docs — no hot-term straggler. Only (url, doc_id) of docs
    # joins: docs may carry stored text, which must not shuffle here.
    src = analyzed.join(docs_pending.select("url", "doc_id"), "url").observe(
        obs_docs, F.count(F.lit(1)).alias("n_docs")
    )
    tokens = _token_rows(src, cfg, "doc_id")
    term_dict = _term_dictionary(spark, tokens, cfg, paths)
    sort_cols = ["term_id", "doc_id"] + (["pos"] if cfg.with_positions else [])
    enc_input = tokens.join(term_dict, "term").select(
        "term_id", "doc_id", "doc_len", *sort_cols[2:]
    )
    shard_expr = (F.col("doc_id") / F.lit(cfg.shard_size)).cast("long")
    # RANGE partitioning on (term_id, shard) — not hash. Equal keys still
    # land in one partition (groups are never split, every (term, shard)
    # group stays ≤ shard_size docs = skew-free), but each output FILE now
    # covers a NARROW contiguous term_id range instead of a hash-sample of
    # the whole vocabulary. That is what makes the pushed In(term_id, …)
    # filter actually skip: parquet row-group/file min-max stats are useless
    # when every file spans term_id 0..vocab (measured: a point lookup read
    # the ENTIRE index). With ranges, a query touches only the files whose
    # term range covers its terms — in both the Spark batch path and the
    # pyarrow serving path (query/local.py).
    encoded = (
        enc_input.repartitionByRange(cfg.build_partitions, F.col("term_id"), shard_expr)
        .sortWithinPartitions(*sort_cols)
        .mapInArrow(
            lambda it: _encode_partition(it, cfg.block_size, cfg.shard_size),
            schema=POSTINGS_SCHEMA,
        )
        .observe(
            obs_enc,
            F.count(F.lit(1)).alias("posting_rows"),
            F.sum("df_shard").alias("n_postings"),
        )
    )
    # Write straight from the encode partitioning: partitionBy(shard) splits
    # each task's output into its shard dirs, keeping full write parallelism
    # (a repartition-by-shard here would funnel everything through
    # n_shards tasks — a serial write when the corpus fits few shards).
    # Rows stay term-sorted within each file (encode input order), so
    # parquet row-group min/max stats on `term` still prune query scans.
    #
    # Object-store-shaped publication: tasks write parquet files DIRECTLY
    # into the final shard=N directories (unique part-file names — append
    # mode never collides with leftovers from a crashed run), and the
    # shard-log line listing each shard's files is the SOLE commit point.
    # Readers (exec.load_index, the pyarrow serving catalog, _finalize)
    # build the index from the logged file lists, so uncommitted partials
    # are invisible; no driver-side rename loop and no rename semantics
    # assumed — on S3-style storage these are plain PUTs plus one log
    # append. Driver commit work = O(committed lines), one flush.
    #
    # ~1 MB row groups: postings files serve POINT lookups (term_id IN (…)).
    # Spark's 128 MB default puts a whole file in one row group, so min/max
    # stats can never skip anything; 1 MB groups let both the Spark batch
    # path and the pyarrow serving path read only the row groups whose term
    # range matches (Lucene-segment-ish granularity; the sequential-scan
    # penalty of smaller groups is a few % and scans are not this table's
    # job).
    write_and_commit_postings(encoded, pending, paths, log, fail_after_shards)
    enc = _obs_metrics(obs_enc)
    docs_m = _obs_metrics(obs_docs)
    return {
        # Observed metrics ride only EXECUTED nodes: when cache/stage reuse
        # elides the observed subtree (seen on resume), the observation
        # completes empty — fall back to one explicit aggregate then.
        "n_docs": int(docs_m.get("n_docs") or docs_pending.count()),
        "posting_rows": int(enc.get("posting_rows") or 0),
        "n_postings": int(enc.get("n_postings") or 0),
    }


def write_and_commit_postings(
    encoded: DataFrame,
    pending: list[int],
    paths: IndexPaths,
    log: ShardLog,
    fail_after_shards: int | None = None,
    also_append: list[dict] | None = None,
) -> None:
    """The object-store commit step, shared by the build and compaction
    paths: append-write the encoded posting rows straight into the final
    shard=N dirs, then log each shard's new-file list (the sole commit
    point). Driver work = O(committed lines), zero renames. also_append:
    extra log records written in the SAME batched append (e.g. compaction
    retiring absorbed shards atomically with the new commits)."""
    os.makedirs(paths.postings, exist_ok=True)
    pre_existing = {s: _parquet_basenames(paths.postings, s) for s in pending}
    encoded.write.mode("append").option(
        "parquet.block.size", str(1 << 20)
    ).partitionBy("shard").parquet(paths.postings)

    if fail_after_shards is None:
        # one batched append, one flush — O(committed lines) driver work
        log.append_many(
            [
                {
                    "shard": int(s),
                    "status": "committed",
                    "files": sorted(_parquet_basenames(paths.postings, s) - pre_existing[s]),
                }
                for s in pending
            ]
            + list(also_append or [])
        )
    else:
        # test hook: commit the first k shards' log lines then raise —
        # the remaining shards' files exist on disk but stay invisible
        # (uncommitted) until a resume re-encodes and commits them
        committed = 0
        for shard in pending:
            if committed >= fail_after_shards:
                raise RuntimeError(
                    f"injected failure after {committed} shards (test hook)"
                )
            new_files = sorted(_parquet_basenames(paths.postings, shard) - pre_existing[shard])
            log.append(shard, status="committed", files=new_files)
            committed += 1


def _obs_metrics(obs) -> dict:
    """Observation.get that degrades to {} when the observed node never
    executed (empty metrics row raises inside toPyRow on Spark 4.1)."""
    try:
        return dict(obs.get)
    except Exception:
        return {}


def _dict_next_term_id(dict_path: str) -> int:
    """max(term_id)+1 from parquet FOOTER statistics only — O(files) metadata
    reads, no data scan. Deriving the offset from the dictionary files
    themselves (not a sidecar counter) makes a crash between the segment
    append and any bookkeeping harmless: the retry sees the appended terms
    and continues after them, so two terms can never share an id."""
    import pyarrow.parquet as pq

    mx = -1
    for dirpath, _, names in os.walk(dict_path):
        for f in names:
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            pf = pq.ParquetFile(full)
            md = pf.metadata
            ti = md.schema.names.index("term_id")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(ti).statistics
                if st is not None and st.max is not None:
                    mx = max(mx, int(st.max))
                elif md.row_group(i).num_rows:
                    # stats absent (foreign writer config): read the column —
                    # silently skipping would under-compute the offset and
                    # assign COLLIDING term ids
                    col = pf.read_row_group(i, columns=["term_id"]).column("term_id")
                    import pyarrow.compute as _pc

                    mx = max(mx, int(_pc.max(col).as_py()))
    return mx + 1


def _term_dictionary(spark, tokens: DataFrame, cfg: EngineConfig, paths: IndexPaths) -> DataFrame:
    """term → term_id mapping, grown by APPENDING new-term segments.

    Existing terms keep their ids (committed posting segments reference
    them); terms new to this build get dense ids after the current maximum —
    the UnkDict analog (invoicenet/common/data.py:37-57), except the
    vocabulary grows instead of mapping to <UNK>. An incremental update
    writes O(new terms) bytes (new part files appended into the same
    directory), never a rewrite of the whole dictionary — at web-scale
    vocabularies the O(vocab) rewrite-per-delta was the wrong shape. The id
    offset comes from footer stats (_dict_next_term_id), so a crashed
    half-applied append is self-healing on retry.
    """
    dict_path = os.path.join(paths.root, "term_dict")
    terms = tokens.select("term").distinct()
    if os.path.exists(dict_path):
        old = spark.read.parquet(dict_path)
        new_terms = terms.join(old.select("term"), "term", "left_anti")
        offset = _dict_next_term_id(dict_path)
        new_ids = assign_dense_ids(
            new_terms, key="term", id_col="term_id", num_partitions=cfg.build_partitions
        ).withColumn("term_id", F.col("term_id") + F.lit(int(offset)))
        new_ids.write.mode("append").parquet(dict_path)
    else:
        assign_dense_ids(
            terms, key="term", id_col="term_id", num_partitions=cfg.build_partitions
        ).write.mode("overwrite").parquet(dict_path)
    return spark.read.parquet(dict_path)


def _finalize(
    spark,
    docs: DataFrame,
    cfg: EngineConfig,
    paths: IndexPaths,
    manifest: dict,
    log: ShardLog,
    t0: float,
    observed: dict,
) -> None:
    """Terms table (dictionary ⋈ global df) + corpus stats from committed
    postings, plus the north_rule build metrics (docs/sec, postings/
    partition, merge fan-in). Global df = Σ df_shard over committed shards,
    so it is correct under resume and incremental updates alike."""
    from invoicenet_spark.index.deletes import read_tombstones_spark

    postings = read_postings(spark, paths)
    term_dict = spark.read.parquet(os.path.join(paths.root, "term_dict"))
    df_by_id = postings.groupBy("term_id").agg(F.sum("df_shard").alias("df"))
    terms = term_dict.join(df_by_id, "term_id", "left").fillna(0, subset=["df"])
    terms.write.mode("overwrite").parquet(paths.terms)

    # corpus stats never count tombstoned docs a purge hasn't reclaimed yet
    # (df above intentionally still does — Lucene semantics: per-term df is
    # corrected when compaction's purge re-derives it from purged postings)
    tomb = read_tombstones_spark(spark, paths)
    if tomb is not None:
        from invoicenet_spark.index.deletes import maybe_broadcast_tombstones

        docs = docs.join(maybe_broadcast_tombstones(tomb, paths), "doc_id", "left_anti")
    field_aggs = []
    for f in cfg.fields:
        # per-field BM25 normalization constants: avgdl over docs with a
        # non-empty field (docs without it can never match a field term)
        cond = F.when(F.col(f"dl_{f}") > 0, F.col(f"dl_{f}"))
        field_aggs += [
            F.avg(cond).alias(f"avgdl_{f}"),
            F.count(cond).alias(f"n_{f}"),
        ]
    ts_aggs = (
        [F.min("warc_ts").alias("ts_min"), F.max("warc_ts").alias("ts_max")]
        if "warc_ts" in docs.columns
        else []
    )
    stats_row = docs.agg(
        F.count("*").alias("N"), F.avg("doc_len").alias("avgdl"),
        *field_aggs, *ts_aggs,
    ).collect()[0]
    stats = {
        "N": int(stats_row["N"]),
        "avgdl": float(stats_row["avgdl"]),
        "k1": cfg.k1,
        "b": cfg.b,
        "shard_size": cfg.shard_size,
        "block_size": cfg.block_size,
        "with_positions": cfg.with_positions,
        # serving-side consumers (snippets tokenization, query-term
        # analysis) read the analyzer chain from stats.json — keep it in
        # sync with the manifest config
        "token_pattern": cfg.token_pattern,
        "stopwords": list(cfg.stopwords),
        "stem": cfg.stem,
    }
    if ts_aggs and stats_row["ts_min"] is not None:
        # segment time range — the federated-search pruning key (a crawl
        # segment's [min, max] warc_ts; query/federate.py skips whole
        # segments whose range misses the query's time window)
        stats["ts_min"] = stats_row["ts_min"].isoformat()
        stats["ts_max"] = stats_row["ts_max"].isoformat()
    if cfg.fields:
        stats["fields"] = {
            f: {
                "avgdl": float(stats_row[f"avgdl_{f}"] or 0.0),
                "n_docs": int(stats_row[f"n_{f}"]),
            }
            for f in cfg.fields
        }
    # atomic replace: the serving path's freshness protocol keys on
    # stats.json (mtime_ns, size) as the index generation — a truncating
    # in-place write would expose a partial/empty file to a concurrently
    # reading replica
    tmp_stats = paths.stats + ".tmp"
    with open(tmp_stats, "w") as f:
        json.dump(stats, f)
    os.replace(tmp_stats, paths.stats)

    build_sec = round(time.time() - t0, 3)
    # per-shard metrics refresh: ONE batched log append (latest line per
    # shard wins), never a rewrite of global state
    metric_rows = [
        {
            "shard": int(r["shard"]),
            "status": "committed",
            "n_terms": int(r["n_terms"]),
            "n_postings": int(r["n_postings"]),
            "bytes": int(r["bytes"]),
        }
        for r in postings.groupBy("shard")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df_shard").alias("n_postings"),
            F.sum(F.length("doc_blob") + F.length("tf_blob")).alias("bytes"),
        )
        .collect()
    ]
    log.append_many(metric_rows)
    log.compact()  # file count stays O(1) across runs
    n_new_docs = int(observed["n_docs"])
    manifest["phase2_sec"] = build_sec
    manifest["docs_indexed_this_run"] = n_new_docs
    manifest["docs_per_sec_this_run"] = round(n_new_docs / build_sec, 2) if build_sec else None
    manifest["merge_fan_in"] = cfg.build_partitions
    # A6/A7: counters observed on the build job's own actions (no extra jobs)
    manifest["observed"] = {
        **observed,
        "postings_per_partition": (
            round(observed["n_postings"] / cfg.build_partitions, 1)
            if observed["n_postings"]
            else 0
        ),
    }
    manifest["stats"] = stats
    _save_manifest(paths, manifest)


def _cfg_dict(cfg: EngineConfig) -> dict:
    return {
        "k1": cfg.k1,
        "b": cfg.b,
        "shard_size": cfg.shard_size,
        "block_size": cfg.block_size,
        "token_pattern": cfg.token_pattern,
        "stopwords": list(cfg.stopwords),
        "stem": cfg.stem,
        "index_langs": list(cfg.index_langs),
        "with_positions": cfg.with_positions,
        "extract_strategy": cfg.extract_strategy,
        "store_text": cfg.store_text,
        "fields": list(cfg.fields),
    }


# ------------------------------------------------ range-partitioned builds --
# The multi-host topology the north_rule's scaling target assumes: input is
# range-partitioned on docID (what an Iceberg table sorted/partitioned on
# ingest order gives), each executor group builds ONLY the shards inside its
# docID range, and the outputs concatenate into the final index because
# shard = doc_id // shard_size is a pure function of the range. The only
# global artifacts are the doc-id table and the term dictionary
# (BENCH/BASELINE.md §2); posting data never crosses a range boundary.
# tests/test_range_local_build.py pins byte-equality of the concatenated
# shards against a single-process build; tools/range_local_build_probe.py
# runs the ranges as two core-pinned OS processes.


def prepare_global_artifacts(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    cfg: EngineConfig | None = None,
    use_stored_text: bool = False,
) -> IndexPaths:
    """Phase 0 of a range-partitioned build: the doc-id table and the term
    dictionary — small, broadcastable, and the ONLY state range builders
    share. Everything else is range-local."""
    cfg = cfg or EngineConfig()
    paths = IndexPaths(root)
    os.makedirs(root, exist_ok=True)
    pages_text = tokens_from_pages(pages, cfg, use_stored_text=use_stored_text)
    with analyzed_pages(pages_text, cfg) as analyzed:
        build_doc_table(analyzed, cfg).withColumn("segment", F.lit("base")).write.mode(
            "overwrite"
        ).partitionBy("segment").parquet(paths.docs)
        _term_dictionary(spark, _token_rows(analyzed, cfg), cfg, paths)
    _save_manifest(paths, {"config": _cfg_dict(cfg)})
    return paths


def build_index_range(
    spark: SparkSession,
    pages: DataFrame,
    global_root: str,
    out_dir: str,
    doc_lo: int,
    doc_hi: int,
    cfg: EngineConfig | None = None,
    use_stored_text: bool = False,
) -> dict:
    """One executor group's share of a range-partitioned build: encode and
    commit ONLY the shards covered by docIDs [doc_lo, doc_hi).

    `pages` is that range's input slice; the global doc table / dictionary
    are read from global_root (shared storage in a real cluster — copied
    here so the range build's own commit log stays self-contained). By
    construction no posting row references a doc outside the range and no
    shard outside [doc_lo//shard_size, doc_hi//shard_size) is written —
    the zero-cross-range-exchange property the scaling argument rests on.
    """
    import shutil

    cfg = cfg or EngineConfig()
    manifest = _load_manifest(IndexPaths(global_root))
    cfg = cfg_from_manifest(manifest, cfg)
    if doc_lo % cfg.shard_size or (doc_hi % cfg.shard_size):
        raise ValueError("range bounds must be shard-aligned")
    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    src_dict = os.path.join(global_root, "term_dict")
    dst_dict = os.path.join(out_dir, "term_dict")
    if not os.path.exists(dst_dict):
        shutil.copytree(src_dict, dst_dict)
    docs_range = (
        spark.read.parquet(IndexPaths(global_root).docs)
        .where((F.col("doc_id") >= doc_lo) & (F.col("doc_id") < doc_hi))
    )
    pending = sorted(
        int(r["shard"]) for r in docs_range.select("shard").distinct().collect()
    )
    pages_text = tokens_from_pages(pages, cfg, use_stored_text=use_stored_text)
    log = ShardLog(out_dir)
    with analyzed_pages(pages_text, cfg) as analyzed:
        observed = _encode_and_commit(
            spark, analyzed, docs_range, pending, cfg, paths, log
        )
    log.close()
    return {"shards": pending, **observed}


def merge_range_builds(
    spark: SparkSession,
    range_roots: list[str],
    global_root: str,
    merged_root: str,
    cfg: EngineConfig | None = None,
) -> IndexPaths:
    """Concatenate range builds into the final index: shard dirs and commit
    logs are unioned (disjoint by construction — ranges own disjoint shard
    sets), the global artifacts are carried over, and the terms/stats
    finalize runs once over the committed whole. On an object store this is
    pure metadata (the shard logs) plus two aggregates — no posting bytes
    move."""
    import shutil
    import time as _time

    cfg = cfg or EngineConfig()
    manifest = _load_manifest(IndexPaths(global_root))
    cfg = cfg_from_manifest(manifest, cfg)
    paths = IndexPaths(merged_root)
    os.makedirs(paths.postings, exist_ok=True)
    shutil.copytree(IndexPaths(global_root).docs, paths.docs, dirs_exist_ok=True)
    shutil.copytree(
        os.path.join(global_root, "term_dict"),
        os.path.join(merged_root, "term_dict"),
        dirs_exist_ok=True,
    )
    log = ShardLog(merged_root)
    rows = []
    for root in range_roots:
        for shard, rec in ShardLog(root).entries().items():
            if rec.get("status") != "committed":
                continue
            src = os.path.join(IndexPaths(root).postings, f"shard={shard}")
            dst = os.path.join(paths.postings, f"shard={shard}")
            shutil.copytree(src, dst, dirs_exist_ok=True)
            rows.append(rec)
    log.append_many(rows)
    docs = spark.read.parquet(paths.docs)
    observed = {"n_docs": docs.count(), "posting_rows": 0, "n_postings": 0}
    _finalize(spark, docs, cfg, paths, manifest, log, _time.time(), observed)
    return paths


def _load_manifest(paths: IndexPaths) -> dict:
    if os.path.exists(paths.manifest):
        with open(paths.manifest) as f:
            return json.load(f)
    return {}


def cfg_from_manifest(manifest: dict, fallback: EngineConfig) -> EngineConfig:
    """Index-layout parameters are immutable once built: resume/update must
    use the persisted config, not the caller's — otherwise a later run with
    a different shard_size computes shard numbers that collide with
    committed shard directories."""
    c = manifest.get("config")
    if not c:
        return fallback
    return EngineConfig(
        k1=c.get("k1", fallback.k1),
        b=c.get("b", fallback.b),
        shard_size=c.get("shard_size", fallback.shard_size),
        block_size=c.get("block_size", fallback.block_size),
        token_pattern=c.get("token_pattern", fallback.token_pattern),
        stopwords=tuple(c.get("stopwords", fallback.stopwords)),
        stem=c.get("stem", fallback.stem),
        index_langs=tuple(c.get("index_langs", fallback.index_langs)),
        with_positions=c.get("with_positions", fallback.with_positions),
        extract_strategy=c.get("extract_strategy", fallback.extract_strategy),
        store_text=c.get("store_text", fallback.store_text),
        fields=tuple(c.get("fields", fallback.fields)),
        build_partitions=fallback.build_partitions,  # runtime knob, not layout
    )


def _save_manifest(paths: IndexPaths, manifest: dict) -> None:
    tmp = paths.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, paths.manifest)
