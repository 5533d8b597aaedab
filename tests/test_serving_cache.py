"""The per-generation serving cache (query/local.py): one byte-bounded LRU
per handle holding the catalog's decoded postings row groups (one entry per
row group, each with the shared decoded posting lists of the rows read
from it) and urls_for's per-shard (doc_id, url) arrays.

- Generation contract: a held root string, warmed by search_local, sees
  every index change (update_index, delete_docs, compact_index with purge)
  on its next call, and answers like the Spark path on the same index.
- The cache bound only trades time for memory: a 1-byte bound evicts
  every row group and url array and answers the same, and under a small
  bound no posting list holds more decoded bytes than it was charged, also
  with four threads racing on the same lists.
- A warm handle runs no varbyte decode at all.
- Concurrent callers on one handle get the serial answers.
- Result dtypes are pinned for empty, count_only, with_url=False and
  normal results.
"""

import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
from invoicenet_spark.fixtures.pages import PAGES_SCHEMA, gen_pages_pandas
from invoicenet_spark.index.build import IndexPaths, build_index, vacuum_docs_dirs
from invoicenet_spark.index.deletes import delete_docs
from invoicenet_spark.index.maintain import compact_index
from invoicenet_spark.index import codec
from invoicenet_spark.query import kernels, local
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import LocalIndex, local_index, search_local

CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=4, with_positions=True)
COLS = ["query_id", "rank", "doc_id", "url", "score"]


def _tuples(df: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), r.url, round(float(r.score), 9))
        for r in df.itertuples()
    )


def _queries() -> pd.DataFrame:
    """Flat queries plus PHRASE rows, so both column sets (with and without
    position streams) are read and cached."""
    q = gen_queries(40, seed=42)
    ph = q[q["terms"].map(len) == 2].head(5).copy()
    ph["mode"] = "PHRASE"
    ph["query_id"] += 1000
    return pd.concat([q, ph], ignore_index=True)


def _shared_batch() -> pd.DataFrame:
    """A batch in which many queries share terms: every row pairs one of
    two common terms with a term of its own, in OR, AND and BOOL form."""
    q = gen_queries(40, seed=42)
    terms = list(dict.fromkeys(t for ts in q["terms"] for t in ts))
    common, own = terms[:2], terms[2:26]
    rows = []
    for i, t in enumerate(own):
        c = common[i % 2]
        mode = ("OR", "AND", "BOOL")[i % 3]
        ts = [f"{c} {'OR' if i % 2 else 'AND'} {t}"] if mode == "BOOL" else [c, t]
        rows.append({"query_id": 2000 + i, "terms": ts, "mode": mode, "k": 5 + i % 7})
    return pd.DataFrame(rows)


_ALL_KINDS = {"postings", "urls"}


def _kinds(li: LocalIndex) -> set[str]:
    return {key[0] for key in li.cache.entries}


# ------------------------------------------------------ generation contract --
def _served_after_change(spark, root: str, q: pd.DataFrame, prev: LocalIndex):
    """search_local on the held root after an index change: a new handle,
    a filled cache, and the Spark path's rows on the same index."""
    li = local_index(root)
    assert li is not prev and li.generation != prev.generation
    got = search_local(root, q)
    assert _kinds(li) == _ALL_KINDS
    want = search(spark, load_index(spark, root), q).toPandas()
    assert _tuples(got) == _tuples(want)
    return got, li


def test_cached_handle_sees_update_delete_and_purge(spark, tmp_path):
    from invoicenet_spark.sources.snapshots import SnapshotTable
    from invoicenet_spark.streaming.incremental import update_index

    table = SnapshotTable(str(tmp_path / "table"))
    root = str(tmp_path / "idx")
    table.append(spark.createDataFrame(gen_pages_pandas(120, seed=42), schema=PAGES_SCHEMA))
    update_index(spark, table, root, CFG)
    q = pd.concat(
        [
            gen_queries(10, seed=42),
            pd.DataFrame([{"query_id": 99, "terms": ["zzzfresh"], "mode": "OR", "k": 100}]),
        ],
        ignore_index=True,
    )
    # warm the cache on the held root string
    got = search_local(root, q)
    li = local_index(root)
    assert _kinds(li) == _ALL_KINDS
    assert (got["query_id"] == 99).sum() == 0

    # update_index: the new docs are served, with their urls
    fresh = gen_pages_pandas(30, seed=42, start=1000)
    fresh["text"] = fresh["text"] + " zzzfresh"
    fresh["html"] = None
    fresh["lang"] = "en"
    table.append(spark.createDataFrame(fresh, schema=PAGES_SCHEMA))
    update_index(spark, table, root, CFG, use_stored_text=True)
    got, li = _served_after_change(spark, root, q, li)
    assert set(got[got["query_id"] == 99]["url"]) == set(fresh["url"])

    # delete_docs: the tombstones are masked
    top1 = got[got["query_id"] == 1].sort_values("rank")["url"].tolist()[:3]
    victims = sorted(fresh["url"])[:5] + top1
    assert delete_docs(spark, root, urls=victims) == len(victims)
    got, li = _served_after_change(spark, root, q, li)
    assert not set(got["url"]) & set(victims)

    # compact_index with purge: urls come from the new docs tree, even once
    # the old one is vacuumed
    old_docs = IndexPaths(root).docs
    compact_index(spark, root, new_shard_size=128, purge_deletes=True)
    new_docs = IndexPaths(root).docs
    assert new_docs != old_docs
    assert old_docs in vacuum_docs_dirs(IndexPaths(root))
    got, li = _served_after_change(spark, root, q, li)
    assert all(f.startswith(new_docs + "/") for f in li.docs_dataset().files)
    assert got["url"].notna().all()
    assert not set(got["url"]) & set(victims)
    assert set(got[got["query_id"] == 99]["url"]) == set(fresh["url"]) - set(victims)


# ---------------------------------------------------------- cache behaviour --
@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("serving_cache") / "index")
    build_index(spark, gen_pages_spark(spark, 300, seed=42, partitions=4), out, CFG)
    return out


def _singles_and_batch(li: LocalIndex, q: pd.DataFrame) -> list[pd.DataFrame]:
    return [search_local(li, q.iloc[[i]]) for i in range(len(q))] + [
        search_local(li, q), search_local(li, _shared_batch())
    ]


def test_one_byte_bound_evicts_everything_and_answers_the_same(root, monkeypatch):
    q = _queries()
    unbounded = LocalIndex(root)
    want = _singles_and_batch(unbounded, q)
    assert unbounded.cache.nbytes > 0 and _kinds(unbounded) == _ALL_KINDS

    monkeypatch.setattr(local, "_DECODED_CACHE_BYTES", 1)
    bounded = LocalIndex(root)
    got = _singles_and_batch(bounded, q)
    assert not bounded.cache.entries
    assert bounded.cache.nbytes == 0
    assert sum(len(g) for g in got) > 0
    for a, b in zip(want, got):
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_warm_handle_decodes_nothing(root, monkeypatch):
    q = _queries()
    li = LocalIndex(root)
    want = _singles_and_batch(li, q)

    def no_decode(*_a, **_k):
        raise AssertionError("a warm query decoded a row group")

    monkeypatch.setattr(local, "_RowGroup", no_decode)
    for a, b in zip(want, _singles_and_batch(li, q)):
        pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_warm_batch_runs_no_varbyte_decode(root, monkeypatch):
    """The second identical shared-term batch on one handle decodes
    nothing: every posting list it reads was decoded by the first."""
    b = pd.concat([_shared_batch(), _queries()], ignore_index=True)
    li = LocalIndex(root)
    want = search_local(li, b)
    calls = []
    real = codec.vb_decode

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(codec, "vb_decode", counting)
    got = search_local(li, b)
    assert sum(calls) == 0, f"a warm batch ran {sum(calls)} varbyte decodes"
    pd.testing.assert_frame_equal(want, got, check_exact=True)
    search_local(LocalIndex(root), b)  # the counter sees a cold handle's decodes
    assert sum(calls) > 0


def test_one_postings_entry_per_row_group(root):
    """A PHRASE query then an OR query over the same terms share one
    postings entry per row group (the all-column one serves the OR query),
    and the reverse order upgrades the OR query's entries in place."""
    ph = _queries().query("mode == 'PHRASE'").head(2)
    orq = ph.assign(mode="OR", query_id=ph["query_id"] + 100)
    want = [search_local(LocalIndex(root), x) for x in (ph, orq)]

    def postings(li):
        return {k: v for k, (v, _) in li.cache.entries.items() if k[0] == "postings"}

    for order in ((ph, orq), (orq, ph)):
        li = LocalIndex(root)
        search_local(li, order[0])
        first = postings(li)
        search_local(li, order[1])
        after = postings(li)
        assert after.keys() == first.keys() and len(after) > 0
        assert all(len(k) == 3 for k in after)  # ("postings", file, row group)
        assert all(rg.positional for rg in after.values())
        assert li.cache.nbytes == sum(n for _, n in li.cache.entries.values())
        for q, w in zip((ph, orq), want):
            pd.testing.assert_frame_equal(search_local(li, q), w, check_exact=True)


def _decoded_bytes(pl: kernels.PostingList) -> int:
    """Bytes a posting list's decodes really keep alive: each numpy buffer
    reached from its full decode, positions, block cache and bound inputs,
    counted once at its owner's size (a view pins its whole base)."""
    seen, total = set(), 0

    def walk(v):
        nonlocal total
        if isinstance(v, np.ndarray):
            while isinstance(v.base, np.ndarray):
                v = v.base
            if id(v) not in seen:
                seen.add(id(v))
                total += v.nbytes
        elif isinstance(v, (tuple, list)):
            for x in v:
                walk(x)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)

    walk([pl.full, pl._positions, pl._blocks, vars(pl).get("bound_inputs")])
    return total


@pytest.mark.parametrize("threads", [1, 4])
@pytest.mark.parametrize("bound", [64 << 10, 1 << 20])
def test_small_bound_never_undercounts_decoded_lists(root, monkeypatch, bound, threads):
    """Under a small bound, every cached row group is charged its Arrow
    bytes plus each of its posting lists' decode bound, no list holds more
    decoded bytes than that bound, and the cache stays under its bound,
    over a mixed, shared-term and phrase workload run serially or by four
    threads racing on the same cold lists."""
    monkeypatch.setattr(local, "_DECODED_CACHE_BYTES", bound)
    li = LocalIndex(root)
    q = _queries()
    calls = [q.iloc[[i]] for i in range(len(q))] + [q, _shared_batch()]
    n_lists = 0

    def check():
        nonlocal n_lists
        assert li.cache.nbytes <= bound
        assert li.cache.nbytes == sum(n for _, n in li.cache.entries.values())
        for key, (rg, charged) in list(li.cache.entries.items()):
            if key[0] != "postings":
                continue
            lists = list(rg.lists.values())
            n_lists += len(lists)
            assert charged == rg.table.nbytes + sum(pl.decoded_nbytes for pl in lists), key
            for pl in lists:
                assert _decoded_bytes(pl) <= pl.decoded_nbytes, key

    if threads == 1:
        for batch in calls:
            search_local(li, batch)
            check()
    else:
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=threads) as ex:
                list(ex.map(lambda b: search_local(li, b), calls * 2, timeout=300))
        finally:
            sys.setswitchinterval(interval)
        check()
    assert n_lists > 0


def test_racing_block_probes_keep_one_copy(monkeypatch):
    """Four threads probing the same blocks of one cold posting list at
    once decode them once, and the list keeps one copy within its charge.
    The decode is slowed so that every thread asks before any has
    stored its blocks."""
    import threading
    import time

    rng = np.random.default_rng(3)
    docs = np.sort(rng.choice(5000, size=800, replace=False)).astype(np.int64)
    row = codec.encode_posting_list(
        docs, rng.integers(1, 5, size=800), rng.integers(10, 90, size=800), block_size=16
    )
    pl = kernels.PostingList(row)
    real, calls = kernels.decode_blocks_batch, []

    def slow(row, blocks):
        calls.append(len(blocks))
        time.sleep(0.05)
        return real(row, blocks)

    monkeypatch.setattr(kernels, "decode_blocks_batch", slow)
    start = threading.Barrier(4)

    def probe(i):
        start.wait(timeout=60)
        return pl.blocks(np.arange(i, pl.n_blocks, dtype=np.int64))

    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(probe, range(4), timeout=120))
    assert sum(calls) == pl.n_blocks, f"blocks decoded {sum(calls)} times for {pl.n_blocks}"
    assert _decoded_bytes(pl) <= pl.decoded_nbytes
    whole = [np.concatenate([b[k] for b in got[0]]) for k in range(3)]
    for a, b in zip(whole, real(row, np.arange(pl.n_blocks, dtype=np.int64))):
        np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("bound", [None, 1])
def test_four_threads_on_one_handle_match_serial(root, monkeypatch, bound):
    if bound is not None:
        monkeypatch.setattr(local, "_DECODED_CACHE_BYTES", bound)
    q = _queries()
    shared = _shared_batch()
    singles = ([q.iloc[[i]] for i in range(len(q))] + [shared, q]) * 3
    serial_li = LocalIndex(root)
    serial = [search_local(serial_li, s) for s in singles]
    li = LocalIndex(root)  # cold: the threads race on the first fills
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=4) as ex:
            got = list(ex.map(lambda s: search_local(li, s), singles, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    for a, b in zip(serial, got):
        pd.testing.assert_frame_equal(a, b, check_exact=True)
    # a lost fill or eviction would leave the byte count off
    assert li.cache.nbytes == sum(n for _, n in li.cache.entries.values())


def test_result_dtypes_are_pinned(root):
    q = gen_queries(5, seed=42)
    nothing = pd.DataFrame([{"query_id": 7, "terms": ["zzznotaterm"], "mode": "OR", "k": 10}])

    def dtypes(df):
        return list(zip(df.columns, df.dtypes.astype(str)))

    hits = search_local(root, q)
    assert len(hits) and hits["url"].notna().all()
    assert dtypes(hits) == [
        ("query_id", "int64"), ("rank", "int64"), ("doc_id", "int64"),
        ("url", "object"), ("score", "float64"),
    ]
    assert dtypes(search_local(root, q, with_url=False)) == [
        ("query_id", "int64"), ("rank", "int64"), ("doc_id", "int64"), ("score", "float64"),
    ]
    counts = search_local(root, pd.concat([q, nothing], ignore_index=True), count_only=True)
    assert dtypes(counts) == [("query_id", "int64"), ("total_hits", "int64")]
    assert counts["total_hits"].iloc[-1] == 0
    # an empty result keeps all-object columns
    empty = search_local(root, nothing)
    assert len(empty) == 0 and dtypes(empty) == [(c, "object") for c in COLS]
    empty = search_local(root, nothing, with_url=False)
    assert dtypes(empty) == [(c, "object") for c in COLS if c != "url"]


# -------------------------------------------------------- unsorted fallback --
def test_unsorted_row_group_falls_back_to_membership_filter(tmp_path):
    """A row group whose term_id column is out of order is filtered by
    membership instead of binary search, and returns the same rows."""
    tids = np.array([3, 5, 5, 8, 11, 20], dtype=np.int64)
    table = pa.table({
        "term_id": tids,
        "df_shard": np.arange(6, dtype=np.int64),
        "doc_blob": [bytes([i, i + 1]) for i in range(6)],
        "block_last": [[int(t), int(t) + 1] for t in tids],
    })
    perm = np.array([4, 0, 5, 2, 1, 3])
    rows = {}
    for name, t in (("sorted", table), ("unsorted", table.take(perm))):
        path = tmp_path / name / "shard=2" / "part-0.parquet"
        path.parent.mkdir(parents=True)
        pq.write_table(t, str(path))
        cat = local._PostingsCatalog(str(tmp_path / name), [str(path)], local._DecodedCache())
        rows[name] = sorted(
            (pl.row for pl in cat.read([5, 11, 4, 20])),
            key=lambda r: (r["term_id"], r["df_shard"]),
        )
        ((rg, _),) = cat.cache.entries.values()
        assert rg.sorted == (name == "sorted")
    a, b = rows["sorted"], rows["unsorted"]
    assert [r["term_id"] for r in a] == [5, 5, 11, 20]
    assert all(r["shard"] == 2 for r in a)
    for ra, rb in zip(a, b):
        assert ra.keys() == rb.keys()
        assert isinstance(ra["doc_blob"], np.ndarray)  # a view, not a copy
        np.testing.assert_array_equal(ra["doc_blob"], rb["doc_blob"])
        np.testing.assert_array_equal(ra["block_last"], rb["block_last"])
        assert isinstance(ra["block_last"], np.ndarray)
