"""ES filter context (search(doc_filter=...), search_local(excluded_ids=)).

Contract pins:
- the filter excludes docs BEFORE per-shard top-k (post-filtering a ranked
  page would under-fill it): filtered top-k == (unfiltered big-k result
  restricted to allowed docs, re-ranked), with survivor scores
  BIT-unchanged (a filter never scores, stats stay index-wide);
- false and NULL both exclude (ES: a missing/NULL field never matches);
- composes with tombstones (union exclusion) and with count_only /
  matches_only;
- serving parity: search_local(excluded_ids=...) rank- and score-identical
  to the Spark path's doc_filter.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
from invoicenet_spark.index.deletes import delete_docs
from invoicenet_spark.index.build import build_index
from invoicenet_spark.query.exec import (
    excluded_by_shard_df,
    load_index,
    search,
)
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=8, with_positions=True)

# predicate over the fixture's site id: sites 0 mod 3 allowed, site 1
# forced NULL (must exclude), everything else disallowed
PRED = "site % 3 = 0"


@pytest.fixture(scope="module")
def filt_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("filt_idx") / "index")
    pages = gen_pages_spark(spark, 300, seed=42, partitions=4)
    build_index(spark, pages, root, CFG)
    return root


def _meta(spark, idx):
    site = F.regexp_extract("url", r"site(\d+)\.", 1).cast("int")
    return idx.docs.select(
        "doc_id",
        F.when(site == 1, F.lit(None).cast("int")).otherwise(site).alias("site"),
    )


def _allowed_ids(meta_pd):
    ok = meta_pd["site"].notna() & (meta_pd["site"] % 3 == 0)
    return set(meta_pd.loc[ok, "doc_id"].astype(int))


def _big_k(q):
    q = q.copy()
    q["k"] = 100_000
    return q


def test_filter_applies_before_topk_and_never_scores(spark, filt_index):
    idx = load_index(spark, filt_index)
    meta = _meta(spark, idx)
    meta_pd = meta.toPandas()
    allowed = _allowed_ids(meta_pd)
    assert 0 < len(allowed) < len(meta_pd)  # both sides populated
    # NULL row really exists (site1 docs) and is excluded
    assert meta_pd["site"].isna().any()

    q = gen_queries(10, seed=42)
    full = search(spark, idx, _big_k(q)).toPandas()
    filt = search(spark, idx, q, doc_filter=(meta, PRED)).toPandas()

    for qid, grp in filt.groupby("query_id"):
        kk = int(q.loc[q["query_id"] == qid, "k"].iloc[0])
        exp = full[(full["query_id"] == qid) & full["doc_id"].isin(allowed)]
        exp = exp.sort_values(["score", "doc_id"], ascending=[False, True]).head(kk)
        assert list(grp["doc_id"]) == list(exp["doc_id"]), f"query {qid}"
        # scores bit-unchanged: the filter restricts matching, never scores
        assert list(grp["score"]) == list(exp["score"]), f"query {qid}"
        assert not set(grp["doc_id"]) - allowed
    # the filter actually bit: some page-1 doc was displaced somewhere
    merged = filt.merge(full, on=["query_id", "rank"], suffixes=("_f", "_u"))
    assert (merged["doc_id_f"] != merged["doc_id_u"]).any()


def test_filter_composes_with_tombstones(spark, filt_index, tmp_path):
    import shutil

    root = str(tmp_path / "index")
    shutil.copytree(filt_index, root)
    idx0 = load_index(spark, root)
    victims = [
        r["url"]
        for r in idx0.docs.where(F.col("doc_id") % 7 == 2).select("url").collect()
    ]
    assert victims
    delete_docs(spark, root, urls=victims)
    idx = load_index(spark, root)
    meta = _meta(spark, idx)
    allowed = _allowed_ids(meta.toPandas())
    deleted_ids = {
        r["doc_id"]
        for r in idx.docs.where(F.col("doc_id") % 7 == 2).select("doc_id").collect()
    }

    q = gen_queries(8, seed=42)
    res = search(spark, idx, q, doc_filter=(meta, PRED)).toPandas()
    assert len(res)
    got = set(res["doc_id"])
    assert not got - allowed
    assert not got & deleted_ids


def test_filter_count_and_matches_only(spark, filt_index):
    idx = load_index(spark, filt_index)
    meta = _meta(spark, idx)
    allowed = _allowed_ids(meta.toPandas())
    q = gen_queries(6, seed=42)

    m = search(spark, idx, q, matches_only=True, doc_filter=(meta, PRED)).toPandas()
    assert len(m) and not set(m["doc_id"]) - allowed
    c = search(spark, idx, q, count_only=True, doc_filter=(meta, PRED)).toPandas()
    exp_counts = m.groupby("query_id")["doc_id"].nunique()
    for _, row in c.iterrows():
        assert int(row["total_hits"]) == int(exp_counts.get(row["query_id"], 0))
    # counts strictly below the unfiltered counts somewhere (filter bites)
    c0 = search(spark, idx, q, count_only=True).toPandas()
    j = c.merge(c0, on="query_id", suffixes=("_f", "_u"))
    assert (j["total_hits_f"] < j["total_hits_u"]).any()
    assert (j["total_hits_f"] <= j["total_hits_u"]).all()


def test_serving_parity_excluded_ids(spark, filt_index):
    idx = load_index(spark, filt_index)
    meta_pd = _meta(spark, idx).toPandas()
    allowed = _allowed_ids(meta_pd)
    excluded = np.array(
        sorted(set(meta_pd["doc_id"].astype(int)) - allowed), dtype=np.int64
    )

    q = gen_queries(10, seed=42)
    s = search(spark, idx, q, doc_filter=(_meta(spark, idx), PRED)).toPandas()
    l = search_local(filt_index, q, excluded_ids=excluded)
    s = s.sort_values(["query_id", "rank"]).reset_index(drop=True)
    l = l.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(s["doc_id"]) == list(l["doc_id"])
    assert list(s["score"]) == list(l["score"])  # bit-identical across paths


def test_excluded_by_shard_df_semantics(spark):
    meta = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 65, 66, 130],
                "flag": [True, False, None, True, False],
            }
        )
    )
    out = sorted(
        (int(r["shard"]), int(r["doc_id"]))
        for r in excluded_by_shard_df(spark, meta, "flag", 64).collect()
    )
    # false AND NULL excluded, each keyed by doc_id // shard_size
    assert out == [(0, 1), (1, 65), (2, 130)]


URL_PRED = "url LIKE '%//site3.%' OR url LIKE '%//site7.%'"  # Spark+DuckDB portable


def test_cli_filter_round_trip(spark, filt_index, capsys):
    """CLI `--filter` (ES filter context) on BOTH paths: results equal the
    engine's doc_filter run over the docs table, excluded docs never
    appear, and `--count --filter` reports the filtered match count."""
    import json as _json

    from invoicenet_spark.cli import main
    from invoicenet_spark.query.exec import load_index
    from invoicenet_spark.query.local import excluded_ids_local

    idx = load_index(spark, filt_index)
    docs_pd = idx.docs.select("doc_id", "url").toPandas()
    allowed = {
        int(r.doc_id)
        for r in docs_pd.itertuples()
        if "//site3." in r.url or "//site7." in r.url
    }
    assert allowed and len(allowed) < len(docs_pd)

    # pick a term that matches docs on both sides of the filter
    q = gen_queries(1, seed=42)
    term = q["terms"].iloc[0][0]

    def run_cli(extra):
        capsys.readouterr()
        assert main(["search", "--index", filt_index, "--terms", term,
                     "-k", "10", "--filter", URL_PRED] + extra) == 0
        return [
            _json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
            if line.startswith("{")
        ]

    qf = pd.DataFrame(
        [{"query_id": 1, "terms": [term], "mode": "OR", "k": 10}]
    )
    exp = search(
        spark, idx, qf, doc_filter=(idx.docs.select("doc_id", "url"), URL_PRED)
    ).toPandas()
    exp_ids = list(exp["doc_id"])
    assert exp_ids and not set(exp_ids) - allowed

    for path_args in ([], ["--local"]):
        got = run_cli(path_args)
        assert [r["doc_id"] for r in got] == exp_ids, path_args

    # counts: filtered < unfiltered, equals the engine's filtered count
    counted = run_cli(["--local", "--count"])
    exc = excluded_ids_local(filt_index, URL_PRED)
    cf = search_local(filt_index, qf, count_only=True, excluded_ids=exc)
    assert counted[0]["total_hits"] == int(cf["total_hits"].iloc[0])
    c0 = search_local(filt_index, qf, count_only=True)
    assert counted[0]["total_hits"] < int(c0["total_hits"].iloc[0])


def test_excluded_ids_local_null_and_false(spark, filt_index):
    """excluded_ids_local excludes rows where the predicate is false OR
    NULL, evaluated over the committed docs parquet — complement of the
    allowed set under ES filter semantics."""
    from invoicenet_spark.query.exec import load_index
    from invoicenet_spark.query.local import excluded_ids_local

    idx = load_index(spark, filt_index)
    docs_pd = idx.docs.select("doc_id", "url").toPandas()
    # site number ≡ 0 (mod 3); NULLIF makes site1 rows NULL → excluded
    pred = ("nullif(cast(regexp_extract(url, 'site(\\d+)', 1) AS int), 1)"
            " % 3 = 0")
    got = set(excluded_ids_local(filt_index, pred).tolist())
    import re

    exp = set()
    for r in docs_pd.itertuples():
        site = int(re.search(r"site(\d+)", r.url).group(1))
        if site == 1 or site % 3 != 0:
            exp.add(int(r.doc_id))
    assert got == exp
