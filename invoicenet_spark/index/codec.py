"""Posting-list codec: docID-delta + varbyte, skip blocks, block-max metadata.

The engine analog of the reference's sparse candidate tensor
(invoicenet/acp/data.py:154-167: COO (i,v,s) triples over a bounded dense
space) — re-expressed as the classic compressed inverted-list layout
(varbyte/delta per Zobel & Moffat 2006; block-max per Ding & Suel SIGIR'11).

This module is the one place that knows the posting-row format: its one
encoder (encode_lists, for any number of lists) and its decoders
(decode_rows for a run of rows; decode_blocks_batch for some blocks of a
row). build.py and maintain.py only wrap these arrays into Arrow and out.

Layout per (term_id, shard) posting row (POSTINGS_SCHEMA, in file order).
A list's postings are sorted by docID and cut into blocks of block_size
postings; the last block may be shorter.
  term_id        long         dictionary id of the term
  shard          long         docID // shard_size
  df_shard       long         number of postings in the list
  doc_blob       binary       varbyte docID deltas; the list's first delta
                              is its first docID
  tf_blob        binary       varbyte term frequency per posting
  dl_blob        binary       varbyte doc length per posting, so BM25
                              scoring needs no forward-index side input
  pos_blob       binary       varbyte position deltas: posting i holds
                              tf_i ascending positions whose first delta is
                              absolute; empty on a non-positional index
  block_last     array<long>  last (max) docID per block — the skip pointer
  block_doc_off  array<int>   byte offset of each block in doc_blob
  block_tf_off   array<int>   byte offset of each block in tf_blob
  block_dl_off   array<int>   byte offset of each block in dl_blob
  block_pos_off  array<int>   byte offset of each block in pos_blob (0 when
                              empty)
  block_max_tf   array<long>  max tf per block        ┐ exact per-block bound
  block_min_dl   array<long>  min doc_len per block   ┘ inputs (see below)

Varbyte stores little-endian 7-bit groups with the high bit set on every
byte but a value's last. It is self-delimiting, so concatenated byte ranges
(of blocks, or of whole rows) decode as one stream. A block's first docID
delta is taken from the previous block's last docID (block_last), which is
the list-wide delta, so a block decodes on its own.

Block-max design note: instead of storing a baked score bound (which goes
stale when corpus stats N/avgdl change on incremental builds), each block
stores (max_tf, min_dl). The BM25 partial score
    s(tf, dl) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
is increasing in tf and decreasing in dl, so
    bound = idf * s(max_tf, min_dl)
computed with *current* stats is a valid upper bound for every posting in
the block — WAND pruning stays lossless across snapshot-incremental index
updates without re-encoding old segments.

Everything is numpy-vectorized over whole arrays (input_hint: no per-row
Python): one varbyte call per stream whatever the number of lists, and the
varbyte loops run over *byte positions* (≤10 iterations), never over values.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

POSTINGS_SCHEMA = (
    "term_id long, shard long, df_shard long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, pos_blob binary, "
    "block_last array<long>, block_doc_off array<int>, block_tf_off array<int>, "
    "block_dl_off array<int>, block_pos_off array<int>, "
    "block_max_tf array<long>, block_min_dl array<long>"
)
_FIELDS = [f.split() for f in POSTINGS_SCHEMA.split(", ")]
POSTINGS_COLUMNS = tuple(name for name, _ in _FIELDS)
BLOB_COLUMNS = tuple(name for name, t in _FIELDS if t == "binary")
# the position stream: only phrase/proximity queries read it
POSITION_COLUMNS = ("pos_blob", "block_pos_off")


# ---------------------------------------------------------------- varbyte --
def _varbyte(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte bytes of a stream and the byte offset of each value in them
    (n + 1 offsets, the last one the total)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    # bytes needed per value (loop over max 10 byte-positions, not values)
    nb = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nb += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    offsets = np.concatenate(([0], np.cumsum(nb)))
    starts = offsets[:-1]
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for k in range(int(nb.max()) if v.size else 0):
        mask = nb > k
        chunk = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        more = (nb[mask] - 1) > k
        out[starts[mask] + k] = chunk | (more.astype(np.uint8) << 7)
    return out.tobytes(), offsets


def vb_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte: little-endian 7-bit groups, MSB=1 → more bytes."""
    return _varbyte(values)[0]


def vb_decode(blob: bytes | np.ndarray, count: int | None = None) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(blob, dtype=np.uint8) if isinstance(blob, (bytes, bytearray)) else blob
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if is_last.all():
        # fast path: every value fits 7 bits (typical for tf streams and
        # dense doc-delta blocks) — the value bytes ARE the values
        if count is not None and b.size != count:
            raise ValueError(f"varbyte decode: expected {count} values, got {b.size}")
        return b.astype(np.uint64)
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    n = ends.size
    values = np.zeros(n, dtype=np.uint64)
    max_len = int(lengths.max())
    for k in range(max_len):
        mask = lengths > k
        values[mask] |= (b[starts[mask] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    if count is not None and n != count:
        raise ValueError(f"varbyte decode: expected {count} values, got {n}")
    return values


def _restart_deltas(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Delta stream of values whose segments begin at `starts`: each
    segment's first delta is its absolute value."""
    deltas = np.diff(values, prepend=np.int64(0))
    deltas[starts] = values[starts]
    return deltas


def _restart_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Inverse of _restart_deltas: prefix sums of a delta stream cut into
    segments of counts[i] values, restarting at each segment."""
    cum = np.cumsum(deltas)
    if counts.size == 1:  # one segment (a whole posting list): no restarts
        return cum
    starts = np.cumsum(counts) - counts
    before = np.zeros(counts.size, dtype=np.int64)  # cum just before each segment
    inner = starts > 0
    before[inner] = cum[starts[inner] - 1]
    return cum - np.repeat(before, counts)


# ---------------------------------------------------------- posting lists --
def encode_lists(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode many posting lists in one vectorized pass.

    docs/tfs/dls: int64 posting-level arrays of the lists back to back,
    docIDs ascending within each list; starts: each list's first posting
    index (starts[0] == 0); positions: the flat position stream, tfs[i]
    ascending positions per posting (None: empty position streams).

    Returns every posting-row column but term_id and shard: "df_shard"
    (postings per list) and, for each blob and block column, (offsets,
    values) — list i's value is values[offsets[i]:offsets[i + 1]], bytes
    for a blob column and a numpy array for a block column. Offsets are
    int32, the Arrow binary/list offset type.
    """
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    m = docs.size
    sizes = np.diff(np.append(starts, m))

    # block structure: ordinal within list, block = ordinal // block_size
    ordinal = np.arange(m, dtype=np.int64) - np.repeat(starts, sizes)
    b_start = np.flatnonzero((ordinal % block_size) == 0)
    b_end = np.append(b_start[1:], m)
    b_list = np.searchsorted(starts, b_start, side="right") - 1
    block_off = np.concatenate(
        ([0], np.cumsum(np.bincount(b_list, minlength=starts.size)))
    ).astype(np.int32)

    def _stream(values: np.ndarray, first: np.ndarray | None = None):
        """One varbyte call over the whole stream → the blob column and its
        block-offset column. first[i]: stream index of posting i's first
        value (m + 1 entries); None when every posting has one value."""
        blob, offs = _varbyte(values)
        post = offs if first is None else offs[first]  # byte offset per posting
        list_off = post[np.append(starts, m)]
        block_rel = post[b_start] - list_off[b_list]
        return (list_off.astype(np.int32), blob), (block_off, block_rel.astype(np.int32))

    out = {"df_shard": sizes}
    out["doc_blob"], out["block_doc_off"] = _stream(_restart_deltas(docs, starts))
    out["tf_blob"], out["block_tf_off"] = _stream(tfs)
    out["dl_blob"], out["block_dl_off"] = _stream(dls)
    if positions is None:
        positions = np.zeros(0, dtype=np.int64)
        first_pos = np.zeros(m + 1, dtype=np.int64)
    else:
        first_pos = np.concatenate(([0], np.cumsum(tfs)))
        positions = _restart_deltas(np.asarray(positions, dtype=np.int64), first_pos[:-1])
    out["pos_blob"], out["block_pos_off"] = _stream(positions, first_pos)
    out["block_last"] = (block_off, docs[b_end - 1])
    out["block_max_tf"] = (block_off, np.maximum.reduceat(tfs, b_start))
    out["block_min_dl"] = (block_off, np.minimum.reduceat(dls, b_start))
    return out


def encode_posting_list(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    block_size: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict:
    """Encode one (term, shard) posting list (inputs sorted by doc_id asc)
    into a posting-row dict: bytes blobs, numpy block arrays; the position
    columns only when positions (tfs[i] ascending per posting) are given."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if doc_ids.size == 0:
        raise ValueError("empty posting list")
    enc = encode_lists(doc_ids, tfs, doc_lens, np.zeros(1, dtype=np.int64), block_size, positions)
    row = {"df_shard": int(doc_ids.size)}
    for name, col in enc.items():
        if name != "df_shard" and (positions is not None or name not in POSITION_COLUMNS):
            row[name] = col[1]
    return row


def decode_rows(rows: dict, with_positions: bool = False) -> tuple:
    """Decode a run of posting rows in one varbyte call per stream.

    rows maps "df_shard" to each row's posting count and every blob column
    to the rows' blobs back to back, in row order (a single posting-row
    dict is a run of one row). Returns (docs, tfs, dls, positions):
    posting-level int64 arrays of the rows back to back, positions being
    the flat position stream (None unless with_positions)."""
    counts = np.atleast_1d(np.asarray(rows["df_shard"], dtype=np.int64))
    n = int(counts.sum())
    docs = _restart_cumsum(vb_decode(rows["doc_blob"], count=n).astype(np.int64), counts)
    tfs = vb_decode(rows["tf_blob"], count=n).astype(np.int64)
    dls = vb_decode(rows["dl_blob"], count=n).astype(np.int64)
    positions = decode_positions(rows, tfs)[0] if with_positions else None
    return docs, tfs, dls, positions


def decode_posting_list(
    row: dict, block_size: int = BLOCK_SIZE
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Full decode of one encoded posting row → (doc_ids, tfs, doc_lens)."""
    return decode_rows(row)[:3]


def decode_positions(row: dict, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode the full per-posting position stream of one posting row.

    Returns (pos_flat, offsets): posting i's positions are
    pos_flat[offsets[i]:offsets[i+1]] (ascending). Requires the tf array
    (posting boundaries are implied by tf, not stored)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    deltas = vb_decode(row["pos_blob"], count=int(tfs.sum())).astype(np.int64)
    return _restart_cumsum(deltas, tfs), np.concatenate(([0], np.cumsum(tfs)))


def decode_blocks_batch(
    row: dict, block_idxs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks of one posting row in O(3) varbyte calls.

    block_idxs: sorted unique block indices. Returns (doc_ids, tfs, dls,
    offsets) where block block_idxs[i]'s postings live at
    [offsets[i], offsets[i+1]). Per-block python decode costs ~0.1 ms in
    loop overhead; batching restores the vectorized decode rate — the
    difference between block-max probing winning or tying exhaustive.

    The blocks' byte ranges, concatenated, are a run of rows to decode_rows
    whose first docID deltas restart from the previous block's last docID
    (block_last).
    """
    block_idxs = np.asarray(block_idxs, dtype=np.int64)
    run = {}
    for blob, off in (
        ("doc_blob", "block_doc_off"), ("tf_blob", "block_tf_off"), ("dl_blob", "block_dl_off")
    ):
        buf = np.frombuffer(row[blob], dtype=np.uint8)
        starts = np.asarray(row[off], dtype=np.int64)
        ends = np.append(starts[1:], buf.size)
        run[blob] = np.concatenate([buf[starts[j]:ends[j]] for j in block_idxs])
        if blob == "doc_blob":
            # per-block posting counts = varbyte terminators per block's
            # byte range, summed per segment of the run (reduceat, no loop)
            seg = np.concatenate(([0], np.cumsum((ends - starts)[block_idxs])[:-1]))
            run["df_shard"] = np.add.reduceat((run[blob] & 0x80) == 0, seg).astype(np.int64)
    docs, tfs, dls, _ = decode_rows(run)

    block_last = np.asarray(row["block_last"], dtype=np.int64)
    bases = np.where(block_idxs > 0, block_last[np.maximum(block_idxs - 1, 0)], 0)
    docs += np.repeat(bases, run["df_shard"])
    return docs, tfs, dls, np.concatenate(([0], np.cumsum(run["df_shard"])))
