"""Codec round-trip + block structure (FIXTURES.md: encode→decode identity),
and the pinned bytes of the posting format."""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from invoicenet_spark.index import codec
from invoicenet_spark.index.codec import (
    decode_posting_list,
    encode_posting_list,
    vb_decode,
    vb_encode,
)


def test_vb_roundtrip_small():
    v = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**35, 2**63], dtype=np.uint64)
    assert (vb_decode(vb_encode(v), count=len(v)) == v).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=500))
def test_vb_roundtrip_property(values):
    v = np.array(values, dtype=np.uint64)
    assert (vb_decode(vb_encode(v)) == v).all() or len(values) == 0


def _random_plist(n, seed=0):
    rng = np.random.default_rng(seed)
    doc_ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 300, size=n).astype(np.int64)
    dls = rng.integers(20, 700, size=n).astype(np.int64)
    return doc_ids, tfs, dls


@pytest.mark.parametrize("n", [1, 5, 127, 128, 129, 1000, 5000])
def test_posting_roundtrip(n):
    doc_ids, tfs, dls = _random_plist(n, seed=n)
    row = encode_posting_list(doc_ids, tfs, dls, block_size=128)
    d2, t2, l2 = decode_posting_list(row)
    assert (d2 == doc_ids).all()
    assert (t2 == tfs).all()
    assert (l2 == dls).all()


def test_block_decode_and_metadata():
    n = 1000
    doc_ids, tfs, dls = _random_plist(n, seed=7)
    bs = 128
    row = encode_posting_list(doc_ids, tfs, dls, block_size=bs)
    n_blocks = (n + bs - 1) // bs
    assert len(row["block_last"]) == n_blocks
    for i in range(n_blocks):
        d, t, l, offs = codec.decode_blocks_batch(row, np.array([i]))
        assert list(offs) == [0, d.size]
        lo, hi = i * bs, min((i + 1) * bs, n)
        assert (d == doc_ids[lo:hi]).all()
        assert (t == tfs[lo:hi]).all()
        assert (l == dls[lo:hi]).all()
        assert row["block_last"][i] == doc_ids[hi - 1]
        assert row["block_max_tf"][i] == tfs[lo:hi].max()
        assert row["block_min_dl"][i] == dls[lo:hi].min()


def test_compression_actually_compresses():
    doc_ids = np.arange(0, 100_000, 3, dtype=np.int64)  # deltas of 3 → 1 byte each
    tfs = np.ones_like(doc_ids)
    dls = np.full_like(doc_ids, 100)
    row = encode_posting_list(doc_ids, tfs, dls)
    assert len(row["doc_blob"]) < doc_ids.size * 2  # ≪ 8 bytes/docID


# ------------------------------------------------------------ format pins --
PIN_BLOCK_SIZE = 8


def _width_values(rng, widths, lo1=0, cap=2**63 - 1):
    """One value per entry of widths that needs exactly that many varbyte
    bytes (capped at cap)."""
    out = []
    for w in map(int, widths):
        lo, hi = (lo1 if w == 1 else 1 << (7 * (w - 1))), min((1 << (7 * w)) - 1, cap)
        out.append(int(rng.integers(lo, hi, endpoint=True)))
    return np.array(out, dtype=np.int64)


def format_cases():
    """Seeded posting lists (doc_ids, tfs, dls, positions or None): lengths
    1, bs-1, bs, bs+1 and several blocks, and lists whose doc gaps, tfs, dls
    and positions need 1 to 9 varbyte bytes (the int64 ceiling; 10-byte
    values are pinned through vb_encode), each with and without positions."""
    rng = np.random.default_rng(20261020)
    bs = PIN_BLOCK_SIZE
    lists = []
    for n in (1, bs - 1, bs, bs + 1, 5 * bs + 3):
        docs = np.cumsum(rng.integers(0 if n == 1 else 1, 1000, size=n)).astype(np.int64)
        lists.append((docs, rng.integers(1, 300, size=n), rng.integers(1, 70_000, size=n)))
    widths = np.arange(1, 10)
    for order in range(2):
        w = widths if order == 0 else rng.permutation(widths)
        gaps = _width_values(rng, w, lo1=1, cap=2**60)
        lists.append((
            np.cumsum(gaps).astype(np.int64),
            _width_values(rng, rng.permutation(widths), lo1=1),
            _width_values(rng, rng.permutation(widths), lo1=1),
        ))
    cases = []
    for docs, tfs, dls in lists:
        cases.append((docs, np.asarray(tfs, np.int64), np.asarray(dls, np.int64), None))
    for docs, tfs, dls in lists:
        # positional twin: tfs small enough to spell positions; position
        # gaps of every width
        tfs = rng.integers(1, 4, size=docs.size).astype(np.int64)
        pos = []
        for t in tfs:
            pos.append(np.cumsum(_width_values(rng, rng.integers(1, 10, size=t), cap=2**58)))
        cases.append((docs, tfs, np.asarray(dls, np.int64), np.concatenate(pos)))
    return cases


def format_digests(rows) -> dict:
    """SHA-256 per posting-row column over the rows in order: every blob's
    bytes and every block array's dtype and bytes."""
    hashes = {}
    for row in rows:
        for name, v in sorted(row.items()):
            if name == "df_shard":
                continue
            h = hashes.setdefault(name, hashlib.sha256())
            data = bytes(v) if isinstance(v, (bytes, bytearray)) else (
                np.asarray(v).dtype.str.encode() + np.ascontiguousarray(v).tobytes()
            )
            h.update(len(data).to_bytes(8, "little") + data)
    return {name: h.hexdigest() for name, h in sorted(hashes.items())}


def vb_width_values() -> np.ndarray:
    """Two seeded uint64 values per varbyte width 1..10."""
    rng = np.random.default_rng(7)
    out = []
    for w in range(1, 11):
        lo, hi = (0 if w == 1 else 1 << (7 * (w - 1))), min((1 << (7 * w)) - 1, 2**64 - 1)
        out += [lo + int(rng.integers(0, hi - lo, endpoint=True)) for _ in range(2)]
    return np.array(out, dtype=np.uint64)


# computed with the per-block encoder and the build's vectorized encoder
# that wrote this format before the codec had one encoder; both agreed
PINNED_DIGESTS = {
    "block_dl_off": "e388ce66da0cc0160c7169fd3abc4756806b2134cb8feb48bb0a485610eea6b8",
    "block_doc_off": "1fc083aa57c2326edf04c5599e30498da83d35ab4d174ca630eba6a6775f7d6d",
    "block_last": "66eaf882c0b8dc73bec21228e033859cad5be880b94b2c2c1765e18828794aeb",
    "block_max_tf": "bb7ab7f5f8dc9a37a843805e15992cb9cb1025b0b2c087ad70fa49d7f8b8868a",
    "block_min_dl": "f71e1c41c8c68af5203e098c823a4d88d990af3fda0225d5e5778da981debcfd",
    "block_pos_off": "06c0e94b993befe233879e5c6f7b4d200ae67cf93ffff1392802481582fabf83",
    "block_tf_off": "63b281c7a6e5ac8f53e7cea51ef443ef474a6feb28a6f655292b90253dddee0c",
    "dl_blob": "a3fd025d5d5269aed05300dbad8b613ce9ece6578124390cf74430960c457b49",
    "doc_blob": "766790bef1153eb34b280b8e7b249b6d8e64a413100d850afa1abd382a8edbe6",
    "pos_blob": "5d34a185fe75710348c6cec0e7accc874416d0618549e346974ed30cd5a4bfc8",
    "tf_blob": "322401c12a331216d018673ad8bdcaab65f49b915d4b42efd527653897490832",
}
PINNED_VB_DIGEST = "bceb72693f4e4ac36c2fedc26ffad9f5562c0254b83ae7ef88a4a94bac9e4d59"


def test_format_bytes_are_pinned():
    rows = [
        encode_posting_list(d, t, l, block_size=PIN_BLOCK_SIZE, positions=p)
        for d, t, l, p in format_cases()
    ]
    assert format_digests(rows) == PINNED_DIGESTS
    assert hashlib.sha256(vb_encode(vb_width_values())).hexdigest() == PINNED_VB_DIGEST


def test_format_cases_reach_every_width():
    """The pinned inputs really exercise every varbyte width."""
    cases = format_cases()

    def widths(row, name):
        b = np.frombuffer(row[name], dtype=np.uint8)
        ends = np.flatnonzero((b & 0x80) == 0)
        return set(np.diff(np.concatenate(([-1], ends))).tolist())

    seen = {"doc_blob": set(), "tf_blob": set(), "dl_blob": set(), "pos_blob": set()}
    for d, t, l, p in cases:
        row = encode_posting_list(d, t, l, block_size=PIN_BLOCK_SIZE, positions=p)
        for name in seen:
            if name in row:
                seen[name] |= widths(row, name)
    for name, got in seen.items():
        assert set(range(1, 10)) <= got, name
    vb = vb_encode(vb_width_values())
    assert vb_decode(vb).tolist() == vb_width_values().tolist()
    assert len(vb) == 2 * sum(range(1, 11))


@st.composite
def _posting_lists(draw, with_positions: bool):
    """A few posting lists (doc_ids ascending) with optional positions."""
    out = []
    for _ in range(draw(st.integers(1, 6))):
        n = draw(st.integers(1, 40))
        gaps = draw(st.lists(st.integers(1, 2**20), min_size=n, max_size=n))
        first = draw(st.integers(0, 2**30))
        docs = first + np.cumsum(np.array(gaps, dtype=np.int64)) - gaps[0]
        tfs = np.array(draw(st.lists(st.integers(1, 5), min_size=n, max_size=n)), np.int64)
        dls = np.array(draw(st.lists(st.integers(1, 2**17), min_size=n, max_size=n)), np.int64)
        pos = None
        if with_positions:
            pos = np.concatenate([
                np.cumsum(draw(st.lists(st.integers(0, 2**16), min_size=t, max_size=t)))
                for t in tfs.tolist()
            ]).astype(np.int64)
        out.append((docs, tfs, dls, pos))
    return out


@settings(max_examples=150, deadline=None)
@given(st.booleans().flatmap(_posting_lists), st.sampled_from([1, 2, 3, 8, 128]))
def test_encoding_lists_together_equals_alone(lists, bs):
    """The build encodes whatever lists an Arrow batch holds at once, and
    batches are cut arbitrarily: each list's row must not depend on its
    neighbours."""
    positional = lists[0][3] is not None
    sizes = [d.size for d, *_ in lists]
    enc = codec.encode_lists(
        np.concatenate([d for d, *_ in lists]),
        np.concatenate([t for _, t, _, _ in lists]),
        np.concatenate([l for _, _, l, _ in lists]),
        np.cumsum([0] + sizes[:-1]),
        bs,
        positions=np.concatenate([p for *_, p in lists]) if positional else None,
    )
    assert enc["df_shard"].tolist() == sizes
    for i, (d, t, l, p) in enumerate(lists):
        alone = encode_posting_list(d, t, l, block_size=bs, positions=p)
        for name, v in alone.items():
            if name == "df_shard":
                continue
            offs, values = enc[name]
            got = values[offs[i]:offs[i + 1]]
            if isinstance(v, bytes):
                assert got == v, name
            else:
                assert got.dtype == v.dtype and np.array_equal(got, v), name
    if not positional:
        assert enc["pos_blob"][1] == b"" and not enc["block_pos_off"][1].any()


@settings(max_examples=150, deadline=None)
@given(
    st.booleans().flatmap(_posting_lists),
    st.sampled_from([1, 2, 3, 8]),
    st.randoms(use_true_random=False),
)
def test_decoders_match_encoded_lists(lists, bs, rnd):
    """decode_rows over a run of rows, and decode_blocks_batch over random
    block subsets (always holding the first and last block), give back the
    encoded slices."""
    positional = lists[0][3] is not None
    rows = [encode_posting_list(d, t, l, block_size=bs, positions=p) for d, t, l, p in lists]
    run = {"df_shard": np.array([r["df_shard"] for r in rows])}
    for name in codec.BLOB_COLUMNS:
        if name in rows[0]:
            run[name] = b"".join(r[name] for r in rows)
    docs, tfs, dls, pos = codec.decode_rows(run, with_positions=positional)
    assert np.array_equal(docs, np.concatenate([d for d, *_ in lists]))
    assert np.array_equal(tfs, np.concatenate([t for _, t, _, _ in lists]))
    assert np.array_equal(dls, np.concatenate([l for _, _, l, _ in lists]))
    if positional:
        assert np.array_equal(pos, np.concatenate([p for *_, p in lists]))
    for (d, t, l, p), row in zip(lists, rows):
        n_blocks = len(row["block_last"])
        pick = {0, n_blocks - 1} | {j for j in range(n_blocks) if rnd.random() < 0.4}
        idxs = np.array(sorted(pick), dtype=np.int64)
        bd, bt, bl, offs = codec.decode_blocks_batch(row, idxs)
        assert offs.size == idxs.size + 1
        for k, j in enumerate(idxs.tolist()):
            lo, hi = j * bs, min((j + 1) * bs, d.size)
            sl = slice(offs[k], offs[k + 1])
            assert np.array_equal(bd[sl], d[lo:hi])
            assert np.array_equal(bt[sl], t[lo:hi])
            assert np.array_equal(bl[sl], l[lo:hi])
        if positional:
            got, po = codec.decode_positions(row, t)
            assert np.array_equal(got, p) and po[-1] == t.sum()
