"""End-to-end: build index on deterministic synthetic pages, answer the
reference query set, compare rank-identically vs the numpy BM25 oracle
(FIXTURES.md invariants 1-5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_pandas, gen_pages_spark, gen_queries
from invoicenet_spark.index.build import build_index
from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle, tokenize
from invoicenet_spark.query.exec import load_index, search

N_DOCS = 300
SEED = 42
CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=8)  # multi-shard, multi-block


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory, tiny_pages):
    out = str(tmp_path_factory.mktemp("index"))
    paths = build_index(spark, tiny_pages, out, CFG)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def oracle(built, spark):
    # oracle docs keyed by the engine's own doc_ids (dense url rank) — the
    # mapping is read back from the committed docs table, text from fixtures
    pages = gen_pages_pandas(N_DOCS, seed=SEED)
    en = pages[pages["lang"] == "en"]
    id_map = {r["url"]: r["doc_id"] for r in built.docs.select("url", "doc_id").collect()}
    docs = {id_map[u]: t for u, t in zip(en["url"], en["text"])}
    assert len(docs) == len(id_map)
    return NumpyBM25Oracle(docs)


def test_doc_table(built, oracle):
    # dense ids 0..N-1, doc_len matches oracle tokenization
    docs = built.docs.orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in docs]
    assert ids == list(range(len(ids)))
    assert built.N == len(ids)
    for r in docs[:50]:
        assert r["doc_len"] == oracle.doc_len[r["doc_id"]]
    assert abs(built.avgdl - oracle.avgdl) < 1e-9


def test_df_matches_oracle(spark, built, oracle):
    got = {r["term"]: r["df"] for r in spark.read.parquet(built.paths.terms).collect()}
    want = {t: len(p) for t, p in oracle.postings.items()}
    assert got == want


def test_rank_identity_vs_oracle(spark, built, oracle):
    queries = gen_queries(60, seed=SEED)
    res = search(spark, built, queries).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for _, row in queries.iterrows():
        qid = row["query_id"]
        expect = oracle.topk(list(row["terms"]), k=row["k"], mode=row["mode"])
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert len(got) == len(expect), f"q{qid}: {len(got)} vs {len(expect)}"
        for g, (doc, score) in zip(got, expect):
            assert g["doc_id"] == doc, f"q{qid} rank {g['rank']}: {g['doc_id']} != {doc}"
            assert abs(g["score"] - score) < 1e-9, f"q{qid} doc {doc}"


def test_and_subset_of_or(spark, built):
    queries = gen_queries(20, seed=SEED)
    qand = queries.copy()
    qand["mode"] = "AND"
    qand["k"] = 10_000
    qor = queries.copy()
    qor["mode"] = "OR"
    qor["k"] = 10_000
    a = search(spark, built, qand).collect()
    o = search(spark, built, qor).collect()
    aset, oset = {}, {}
    for r in a:
        aset.setdefault(r["query_id"], set()).add(r["doc_id"])
    for r in o:
        oset.setdefault(r["query_id"], set()).add(r["doc_id"])
    for qid, docs in aset.items():
        assert docs <= oset.get(qid, set())


def test_partition_count_invariance(spark, tmp_path_factory):
    """Index built from 1-partition input == index from 8-partition input
    (merge correctness, FIXTURES.md invariant 2)."""
    p1 = gen_pages_spark(spark, 120, seed=SEED, partitions=1)
    p8 = gen_pages_spark(spark, 120, seed=SEED, partitions=8)
    cfg = EngineConfig(shard_size=32, block_size=8, build_partitions=4)
    out1 = str(tmp_path_factory.mktemp("idx1"))
    out8 = str(tmp_path_factory.mktemp("idx8"))
    build_index(spark, p1, out1, cfg)
    build_index(spark, p8, out8, cfg)
    i1, i8 = load_index(spark, out1), load_index(spark, out8)
    assert i1.stats == i8.stats
    cols = ["term_id", "shard", "df_shard", "doc_blob", "tf_blob"]
    r1 = sorted(i1.postings.select(cols).collect())
    r8 = sorted(i8.postings.select(cols).collect())
    assert r1 == r8


def test_spark_generator_matches_pandas(spark):
    got = (
        gen_pages_spark(spark, 50, seed=SEED, partitions=4)
        .orderBy("url")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = gen_pages_pandas(50, seed=SEED).sort_values("url").reset_index(drop=True)
    assert (got["text"] == want["text"]).all()
    assert (got["lang"] == want["lang"]).all()
    assert [bytes(b) for b in got["html"]] == [bytes(b) for b in want["html"]]


def test_df_sum_invariant(spark, built, oracle):
    """FIXTURES.md §6: Σ df over terms == #distinct (term, doc) pairs."""
    total_df = spark.read.parquet(built.paths.terms).agg(F.sum("df")).collect()[0][0]
    expect = sum(len(p) for p in oracle.postings.values())
    assert total_df == expect


def test_block_metadata_consistency(built):
    """Every posting row's block arrays agree in length and bound df_shard."""
    rows = built.postings.limit(200).collect()
    for r in rows:
        nb = len(r["block_last"])
        assert nb == len(r["block_doc_off"]) == len(r["block_max_tf"]) == len(r["block_min_dl"])
        assert nb == (r["df_shard"] + CFG.block_size - 1) // CFG.block_size
        last = list(r["block_last"])
        assert last == sorted(last)


def test_observed_build_metrics(built, oracle, tmp_path_factory):
    """A6/A7: docs/postings counters come from observe() on the build job's
    own actions and land in the manifest."""
    import json
    import os

    # the `built` fixture's index dir
    root = built.paths.root
    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)
    obs = manifest["observed"]
    assert obs["n_docs"] == oracle.N == manifest["docs_indexed_this_run"]
    total_postings = sum(len(p) for p in oracle.postings.values())
    assert obs["n_postings"] == total_postings
    assert obs["posting_rows"] >= len(oracle.postings)  # ≥ one row per term
    assert obs["postings_per_partition"] > 0
    assert manifest["docs_per_sec_this_run"] > 0


def test_build_dedup_exact_equals_prededuped_build(spark, tmp_path):
    """build_index(dedup_exact=True) over a corpus with exact duplicates is
    byte-identical to building over the manually pre-deduplicated corpus
    (smallest url per text wins, deterministically)."""
    import pandas as pd

    from invoicenet_spark.index.build import IndexPaths, build_index, read_postings
    from invoicenet_spark.query.exec import load_index

    base = [(f"{i:012d}", f"doc number {i} some words {i % 7}") for i in range(40)]
    dups = [(f"{i + 100:012d}", base[i][1]) for i in range(0, 40, 3)]  # bigger urls
    rows = base + dups
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(shard_size=32, block_size=8, build_partitions=4)
    root_d = str(tmp_path / "dedup")
    build_index(spark, pages, root_d, cfg, use_stored_text=True, dedup_exact=True)

    manual = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in base],  # base urls are the min per text
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    root_m = str(tmp_path / "manual")
    build_index(spark, manual, root_m, cfg, use_stored_text=True)

    idx_d, idx_m = load_index(spark, root_d), load_index(spark, root_m)
    assert idx_d.N == idx_m.N == len(base)
    a = read_postings(spark, IndexPaths(root_d)).toPandas().sort_values(
        ["term_id", "shard"]).reset_index(drop=True)
    b = read_postings(spark, IndexPaths(root_m)).toPandas().sort_values(
        ["term_id", "shard"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    for c in ("doc_blob", "tf_blob", "dl_blob"):
        assert all(bytes(x) == bytes(y) for x, y in zip(a[c], b[c])), c


@pytest.mark.parametrize("positional", [False, True], ids=["flat", "positional"])
def test_load_index_reads_postings_without_a_schema_job(spark, tmp_path, positional):
    """load_index reads the committed postings with their explicit schema:
    its only Spark job is the docs read's schema inference, and the
    postings frame has the columns and dtypes schema inference gives."""
    from invoicenet_spark.index.build import IndexPaths, committed_postings_files

    root = str(tmp_path / "index")
    cfg = EngineConfig(shard_size=32, block_size=16, build_partitions=2,
                       with_positions=positional)
    build_index(spark, gen_pages_spark(spark, 80, seed=SEED, partitions=2), root, cfg)
    sc, group = spark.sparkContext, f"load_index_jobs_{positional}"
    sc.setJobGroup(group, group)
    try:
        idx = load_index(spark, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    paths = IndexPaths(root)
    inferred = spark.read.option("basePath", paths.postings).parquet(
        *committed_postings_files(paths)
    )
    assert idx.postings.dtypes == inferred.dtypes
    assert idx.postings.count() == inferred.count() > 0


def test_build_releases_persisted_frames_and_sees_replaced_files(spark, tmp_path):
    """build_index leaves no persisted frame behind: the persisted-RDD
    count returns to where it was, and a rebuild over the same parquet path
    after its files were replaced indexes the new pages, not frames cached
    from the first build's plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_pages(seed, start):
        pages = gen_pages_pandas(60, seed=seed, start=start)
        pq.write_table(pa.Table.from_pandas(pages.drop(columns=["warc_ts"]),
                                            preserve_index=False),
                       str(tmp_path / "pages" / "part-0.parquet"))
        return sorted(pages.loc[pages["lang"] == "en", "url"])

    (tmp_path / "pages").mkdir()
    cfg = EngineConfig(shard_size=32, block_size=8, build_partitions=2)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    write_pages(seed=1, start=0)
    build_index(spark, spark.read.parquet(str(tmp_path / "pages")), str(tmp_path / "a"), cfg)
    assert jsc.getPersistentRDDs().size() == before

    urls = write_pages(seed=2, start=1000)
    build_index(spark, spark.read.parquet(str(tmp_path / "pages")), str(tmp_path / "b"), cfg)
    assert jsc.getPersistentRDDs().size() == before
    docs = load_index(spark, str(tmp_path / "b")).docs
    assert sorted(r["url"] for r in docs.select("url").collect()) == urls


def test_shard_log_bytes_count_every_blob(spark, tmp_path):
    """Each committed shard's logged `bytes` is the summed length of all
    four blobs (doc, tf, dl, pos) of its posting rows."""
    import pyarrow.parquet as pq

    from invoicenet_spark.index.build import IndexPaths, committed_postings_files
    from invoicenet_spark.index.shardlog import ShardLog

    root = str(tmp_path / "index")
    cfg = EngineConfig(shard_size=32, block_size=8, build_partitions=2, with_positions=True)
    build_index(spark, gen_pages_spark(spark, 80, seed=SEED, partitions=2), root, cfg)
    want = {}
    for f in committed_postings_files(IndexPaths(root)):
        shard = int(f.split("shard=")[1].split("/")[0])
        tbl = pq.read_table(f, columns=["doc_blob", "tf_blob", "dl_blob", "pos_blob"])
        want[shard] = want.get(shard, 0) + sum(
            sum(len(v) for v in tbl.column(c).to_pylist()) for c in tbl.column_names
        )
    logged = {s: rec["bytes"] for s, rec in ShardLog(root).entries().items()}
    assert want and logged == want
