"""Document tombstones (index/deletes.py): delete → mask → upsert → purge.

Semantics under test (Lucene liveDocs/merge analog — the reference is
batch-only, so the engine defines these; see deletes.py module docstring):
- delete_docs appends tombstones; queries on BOTH paths (Spark batch,
  pyarrow serving) exclude them, exactly (no per-shard top-k slot is wasted
  on a deleted doc).
- scores of surviving docs are UNCHANGED by a delete (stats stay as-built
  until maintenance — pinned against a big-k pre-delete reference).
- update_index(upsert=True) tombstones the old doc when a url re-appears
  in a later snapshot (re-crawl LWW semantics).
- compact_index purges tombstoned postings physically, swaps in a purged
  docs tree, refreshes N/avgdl/df, and clears the tombstones.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
from invoicenet_spark.index.build import IndexPaths, build_index
from invoicenet_spark.index.deletes import (
    clear_tombstones,
    delete_docs,
    load_tombstones,
    split_by_shard,
)
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.local import search_local


CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=8, with_positions=True)


@pytest.fixture(scope="module")
def del_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("del_idx") / "index")
    pages = gen_pages_spark(spark, 300, seed=42, partitions=4)
    build_index(spark, pages, root, CFG)
    return root


def _big_k(q: pd.DataFrame) -> pd.DataFrame:
    q = q.copy()
    q["k"] = 100_000
    return q


def test_delete_masks_both_paths_exactly(spark, del_index):
    """Masked top-k == (pre-delete big-k results minus deleted, re-ranked):
    per-shard top-k must not truncate live docs, and survivors' scores must
    be bit-unchanged (stats not redefined by a delete)."""
    q = gen_queries(10, seed=42)
    idx = load_index(spark, del_index)
    full = search(spark, idx, _big_k(q)).toPandas()
    assert len(full) > 50

    # tombstone every query's top-2 docs — the adversarial case for per-shard
    # top-k truncation (the deleted docs are exactly the slot-holders)
    del_urls = sorted(set(full[full["rank"] <= 2]["url"]))
    n = delete_docs(spark, del_index, urls=del_urls)
    assert n == len(del_urls) > 0

    expect = (
        full[~full["url"].isin(del_urls)]
        .sort_values(["query_id", "rank"])
        .groupby("query_id", group_keys=False)
        .head(10)
        .reset_index(drop=True)
    )
    expect["rank"] = expect.groupby("query_id").cumcount() + 1

    idx2 = load_index(spark, del_index)
    got = search(spark, idx2, q).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id", "url"]],
        expect[["query_id", "rank", "doc_id", "url"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(got["score"], expect["score"], rtol=0, atol=0)

    # serving path: rank-identical, and it saw the delete WITHOUT any reload
    # hook (delete_docs bumps the index generation)
    got_local = search_local(del_index, q).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_local[["query_id", "rank", "doc_id"]].astype("int64"),
        got[["query_id", "rank", "doc_id"]].astype("int64"),
    )


def test_big_tombstone_set_uses_shard_join_identically(spark, del_index, monkeypatch):
    """Tombstone sets past TOMBSTONE_BROADCAST_MAX_IDS purge through shuffle
    anti-joins (no broadcast hint) — a compaction under the forced threshold
    (monkeypatched to 0) must be bit-identical to one purged through the
    broadcast path (a purge re-derives stats, so compare purged vs purged,
    not vs the pre-purge baseline)."""
    import shutil

    from invoicenet_spark.index import deletes as del_mod
    from invoicenet_spark.index.maintain import compact_index

    q = gen_queries(10, seed=42)
    orig_threshold = del_mod.TOMBSTONE_BROADCAST_MAX_IDS

    roots = {}
    for label, thresh in (("shuffle", 0), ("broadcast", orig_threshold)):
        r = del_index + f"_guard_{label}"
        if os.path.exists(r):
            shutil.rmtree(r)
        shutil.copytree(del_index, r)
        monkeypatch.setattr(del_mod, "TOMBSTONE_BROADCAST_MAX_IDS", thresh)
        res = compact_index(spark, r, new_shard_size=CFG.shard_size * 2)
        assert res["purged_docs"] > 0
        roots[label] = r
    a = search(spark, load_index(spark, roots["shuffle"]), q).toPandas().reset_index(drop=True)
    b = search(spark, load_index(spark, roots["broadcast"]), q).toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["query_id", "rank", "doc_id", "url"]],
        b[["query_id", "rank", "doc_id", "url"]],
        check_dtype=False,
    )
    np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_delete_masks_phrase(spark, del_index):
    """PHRASE results exclude tombstoned docs (module-scope fixture already
    carries the top-2 tombstones; add a phrase-specific one)."""
    idx = load_index(spark, del_index)
    # find some phrase present in the corpus: take two adjacent tokens of doc 0
    docs_pd = idx.docs.limit(1).toPandas()
    from invoicenet_spark.fixtures.pages import gen_pages_pandas

    text = gen_pages_pandas(1, seed=42)["text"].iloc[0]
    toks = text.split()
    phrase = toks[:2]
    q = pd.DataFrame([{"query_id": 1, "terms": phrase, "mode": "PHRASE", "k": 100000}])
    full = search(spark, idx, q).toPandas()
    if len(full) == 0:
        pytest.skip("fixture phrase not present")
    victim = full.iloc[0]["url"]
    delete_docs(spark, del_index, urls=[victim])
    got = search(spark, load_index(spark, del_index), q).toPandas()
    assert victim not in set(got["url"])
    assert len(got) == len(full) - 1


def test_delete_by_doc_ids_and_split(spark, tmp_path):
    root = str(tmp_path / "idx")
    pages = gen_pages_spark(spark, 150, seed=42, partitions=2)
    build_index(spark, pages, root, CFG)
    n = delete_docs(spark, root, doc_ids=[0, 1, 64, 130])
    assert n == 4
    tomb = load_tombstones(IndexPaths(root))
    assert tomb.tolist() == [0, 1, 64, 130]
    by_shard = split_by_shard(tomb, CFG.shard_size)
    assert {s: a.tolist() for s, a in by_shard.items()} == {
        0: [0, 1],
        1: [64],
        2: [130],
    }
    # duplicate tombstones are harmless (idempotent retries)
    delete_docs(spark, root, doc_ids=[1, 64])
    assert load_tombstones(IndexPaths(root)).tolist() == [0, 1, 64, 130]
    assert clear_tombstones(IndexPaths(root)) > 0
    assert load_tombstones(IndexPaths(root)).size == 0


def test_update_index_upsert_recrawl(spark, tmp_path):
    """A url re-appearing in a later snapshot replaces its old version:
    the old doc is tombstoned, the new doc is searchable, N counts the url
    once."""
    from invoicenet_spark.sources.snapshots import SnapshotTable
    from invoicenet_spark.streaming.incremental import update_index

    table = SnapshotTable(str(tmp_path / "table"))
    root = str(tmp_path / "idx")
    base = gen_pages_spark(spark, 100, seed=42, partitions=2).toPandas()
    table.append(spark.createDataFrame(base))
    update_index(spark, table, root, CFG)
    n_base = load_index(spark, root).N  # build's type/lang gate may drop pages

    # re-crawl: doc_seq 5's url comes back with distinctive new content
    recrawl = base.iloc[[5]].copy()
    recrawl["text"] = "zzzrecrawl marker content zzzrecrawl"
    recrawl["html"] = None
    table.append(spark.createDataFrame(recrawl))
    res = update_index(spark, table, root, CFG, use_stored_text=True)
    assert res["docs_added"] == 1

    idx = load_index(spark, root)
    url = base.iloc[5]["url"]
    # old content no longer reachable under that url; new content is
    q_new = pd.DataFrame(
        [{"query_id": 1, "terms": ["zzzrecrawl"], "mode": "AND", "k": 10}]
    )
    got = search(spark, idx, q_new).toPandas()
    assert list(got["url"]) == [url]

    # the url appears ONCE across all query results (no ghost duplicate)
    q = gen_queries(20, seed=42)
    all_rows = search(spark, idx, _big_k(q)).toPandas()
    per_query = all_rows[all_rows["url"] == url].groupby("query_id").size()
    assert (per_query <= 1).all()

    # stats: N unchanged by a re-crawl (tombstoned old version not counted,
    # its replacement counted once)
    assert idx.N == n_base
    assert load_tombstones(idx.paths).size == 1


def test_compact_purges_tombstones_physically(spark, tmp_path):
    """compact_index(purge): deleted doc_ids are gone from the decoded
    postings, stats/N refreshed over survivors, tombstones cleared, docs
    tree swapped — and queries agree with the masked pre-purge results on
    doc_ids."""
    from invoicenet_spark.index.maintain import compact_index
    from invoicenet_spark.query.exec import read_postings

    root = str(tmp_path / "idx")
    pages = gen_pages_spark(spark, 200, seed=42, partitions=4)
    build_index(spark, pages, root, CFG)
    idx = load_index(spark, root)
    n_before = idx.N
    victim_urls = {
        r["url"]
        for r in idx.docs.filter(F.col("doc_id").isin([3, 70, 71, 140])).collect()
    }

    victims = [3, 70, 71, 140]
    delete_docs(spark, root, doc_ids=victims)
    q = gen_queries(10, seed=42)
    masked = search(spark, load_index(spark, root), _big_k(q)).toPandas()

    out = compact_index(spark, root, new_shard_size=128)
    paths = IndexPaths(root)
    assert load_tombstones(paths).size == 0  # cleared by the purge

    # physical absence: decode every posting row, assert no victim doc_id
    from invoicenet_spark.index.codec import decode_posting_list

    rows = read_postings(spark, paths).collect()
    seen = set()
    for r in rows:
        d, _, _ = decode_posting_list(r.asDict())
        seen.update(d.tolist())
    assert not (seen & set(victims))

    idx2 = load_index(spark, root)
    assert idx2.N == n_before - len(victims)
    # docs tree swapped: purged docs absent from the docs table as well
    doc_ids = {r["doc_id"] for r in idx2.docs.select("doc_id").collect()}
    assert not (doc_ids & set(victims))

    # candidate sets per query identical to the masked pre-purge results —
    # a purge removes ONLY tombstoned docs. Ranks may shift (the purge
    # refreshes N/avgdl/df, so BM25 re-weights), which the fresh-build
    # equivalence below pins exactly.
    got = search(spark, idx2, _big_k(q)).toPandas()
    for qid, grp in got.groupby("query_id"):
        assert set(grp["doc_id"]) == set(
            masked[masked["query_id"] == qid]["doc_id"]
        ), f"query {qid}: purged candidate set changed"

    # the purged index is score-equivalent to a FRESH build over the
    # surviving pages (same layout): stats/df refresh is exact, not approximate
    from dataclasses import replace as dc_replace

    root2 = str(tmp_path / "idx2")
    surv = pages.filter(~F.col("url").isin(list(victim_urls)))
    build_index(spark, surv, root2, dc_replace(CFG, shard_size=128))
    fresh = search(spark, load_index(spark, root2), _big_k(q)).toPandas()
    a = got.sort_values(["query_id", "url"]).reset_index(drop=True)
    b = fresh.sort_values(["query_id", "url"]).reset_index(drop=True)
    assert a["url"].tolist() == b["url"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-9)

    # serving path agrees with the Spark path post-purge (fresh generation
    # picked up without any reload hook)
    got_local = search_local(root, q)
    got_k = search(spark, idx2, q).toPandas()
    pd.testing.assert_frame_equal(
        got_local[["query_id", "rank", "doc_id"]].astype("int64").reset_index(drop=True),
        got_k[["query_id", "rank", "doc_id"]].astype("int64").reset_index(drop=True),
    )
    # old docs tree is now an orphan, removable by vacuum
    from invoicenet_spark.index.build import vacuum_docs_dirs

    removed = vacuum_docs_dirs(paths)
    assert any(d.endswith("docs") for d in removed)
    assert os.path.isdir(paths.docs)


def test_purge_clears_only_consumed_tombstones(spark, tmp_path):
    """A delete appended AFTER the purge's snapshot must survive the purge
    (clear_tombstones is file-scoped), and purged_docs counts only ids that
    actually existed in the index."""
    from invoicenet_spark.index.deletes import (
        clear_tombstones,
        list_tombstone_files,
        read_tombstones_spark,
    )
    from invoicenet_spark.index.maintain import compact_index

    root = str(tmp_path / "idx")
    pages = gen_pages_spark(spark, 150, seed=42, partitions=2)
    build_index(spark, pages, root, CFG)
    paths = IndexPaths(root)

    # one real victim + one id that does not exist in the index
    delete_docs(spark, root, doc_ids=[3, 10**9])
    snapshot = list_tombstone_files(paths)
    # a delete landing AFTER the snapshot (simulating a concurrent writer)
    delete_docs(spark, root, doc_ids=[7])
    late_files = set(list_tombstone_files(paths)) - set(snapshot)
    assert late_files

    # the purge consumes/clears only the snapshot; emulate its protocol
    tomb = read_tombstones_spark(spark, paths, files=snapshot)
    assert {r["doc_id"] for r in tomb.collect()} == {3, 10**9}
    clear_tombstones(paths, snapshot)
    assert set(list_tombstone_files(paths)) == late_files
    assert load_tombstones(paths).tolist() == [7]  # the late delete survived

    # end-to-end: purged_docs reports EXISTING docs only
    out = compact_index(spark, root, new_shard_size=128)
    # at purge time the outstanding tombstone set is {7} (the late delete)
    assert out["purged_docs"] == 1
    assert load_tombstones(paths).size == 0
