"""Federated search across segment indexes (query/federate.py).

Core invariant (the dfs_query_then_fetch contract, stated tie-aware):
federation over segments built from disjoint corpus halves produces, per
query, the IDENTICAL rank-ordered score sequence as one index built over
the union corpus, and every returned (url, score) is a true union-corpus
match with the union-corpus score; at exhaustive k the match SETS are
exactly equal. Positional order WITHIN a tied score group is deterministic
on both sides but follows different total orders — the union index
tie-breaks on doc_id, whose order is (xxhash64-bucket, url) from
assign_dense_ids; federation tie-breaks on (segment, doc_id). ES gives the
same no-guarantee across shards (internal doc-id ties). Consequences
pinned here: single-segment federation and pruned-to-one-segment
federation reproduce exec.search EXACTLY (same tie order), pages fetched
with the (after_score, after_segment, after_doc) cursor concatenate
exactly to the one-shot top-N, fielded segments federate with per-field
union stats, and the Spark-free serving twin is row-identical to Spark.
"""

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import make_vocab
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.federate import (
    FederatedIndex,
    search_federated,
    search_local_federated,
)

CFG = EngineConfig(
    shard_size=64, block_size=16, build_partitions=4, with_positions=True
)
VOCAB = make_vocab(42)
HOT, MID, TAIL = VOCAB[1], VOCAB[40], VOCAB[400]


@pytest.fixture(scope="module")
def seg_indexes(spark, tiny_pages_pd, tmp_path_factory):
    """full(300 docs) + two 150-doc time-contiguous segments."""
    from invoicenet_spark.index.build import build_index

    base = tmp_path_factory.mktemp("fed")
    cut = tiny_pages_pd["warc_ts"].sort_values().iloc[150]  # docs are 1s apart
    seg_a = tiny_pages_pd[tiny_pages_pd["warc_ts"] < cut]
    seg_b = tiny_pages_pd[tiny_pages_pd["warc_ts"] >= cut]
    assert len(seg_a) == 150 and len(seg_b) == 150
    roots = {}
    for name, pdf in (("full", tiny_pages_pd), ("a", seg_a), ("b", seg_b)):
        root = str(base / name)
        build_index(spark, spark.createDataFrame(pdf), root, CFG)
        roots[name] = root
    return roots


def _queries():
    return pd.DataFrame(
        [
            {"query_id": 1, "terms": [HOT, MID], "mode": "OR", "k": 15},
            {"query_id": 2, "terms": [HOT, MID], "mode": "AND", "k": 15},
            {"query_id": 3, "terms": [MID, TAIL], "mode": "OR", "k": 15},
            {"query_id": 4, "terms": [f"{MID}^2.5", TAIL], "mode": "OR", "k": 10},
            {"query_id": 5, "terms": [HOT, MID, TAIL], "mode": "OR", "k": 10,
             "min_match": 2},
        ]
    ).assign(min_match=lambda d: d["min_match"].fillna(0).astype(int))


def _rows(df, with_url=True):
    pdf = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    key = "url" if with_url else "doc_id"
    return [
        (int(r["query_id"]), int(r["rank"]), r[key], round(float(r["score"]), 9))
        for _, r in pdf.sort_values(["query_id", "rank"]).iterrows()
    ]


def _score_seq(pdf):
    return {
        int(qid): g.sort_values("rank")["score"].round(9).tolist()
        for qid, g in pdf.groupby("query_id")
    }


def _match_set(pdf):
    return {
        (int(r.query_id), r.url, round(float(r.score), 9))
        for r in pdf.itertuples()
    }


def _assert_fed_equiv(spark, ref_root, fed_df, q):
    """Tie-aware equivalence vs a single index over the same corpus (module
    docstring): identical per-query score sequences; every federated row is
    a true (url, score) match of the reference index (checked against its
    exhaustive-k result); exact set equality at exhaustive k; federated tie
    order is the documented (score desc, segment asc, doc_id asc)."""
    ref = load_index(spark, ref_root)
    full = search(spark, ref, q.copy()).toPandas()
    fed = fed_df.toPandas()
    assert _score_seq(fed) == _score_seq(full)
    q_all = q.copy()
    q_all["k"] = 100000
    all_full = search(spark, ref, q_all).toPandas()
    assert _match_set(fed) <= _match_set(all_full)
    for qid, g in fed.groupby("query_id"):
        g = g.sort_values("rank")
        keys = list(
            zip(
                (-g["score"].round(9)).tolist(),
                g["segment"].tolist(),
                g["doc_id"].tolist(),
            )
        )
        assert keys == sorted(keys), (
            f"query {qid}: not (score desc, segment asc, doc_id asc)"
        )


def test_federated_equals_union_index(spark, seg_indexes):
    q = _queries()
    fed = search_federated(spark, [seg_indexes["a"], seg_indexes["b"]], q.copy())
    _assert_fed_equiv(spark, seg_indexes["full"], fed, q)
    # exhaustive k: the match sets are EXACTLY the union index's
    q_all = _queries().assign(k=100000)
    fed_all = search_federated(
        spark, [seg_indexes["a"], seg_indexes["b"]], q_all.copy()
    ).toPandas()
    full_all = search(
        spark, load_index(spark, seg_indexes["full"]), q_all.copy()
    ).toPandas()
    assert _match_set(fed_all) == _match_set(full_all)
    assert _score_seq(fed_all) == _score_seq(full_all)


def test_federated_phrase_and_bool(spark, seg_indexes):
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": [HOT, VOCAB[2]], "mode": "PHRASE", "k": 10},
            {"query_id": 2, "terms": [f"{MID} OR ({HOT} AND NOT {TAIL})"],
             "mode": "BOOL", "k": 10},
        ]
    )
    fed = search_federated(spark, [seg_indexes["a"], seg_indexes["b"]], q.copy())
    _assert_fed_equiv(spark, seg_indexes["full"], fed, q)


def test_single_segment_federation_identity(spark, seg_indexes):
    """One-segment federation: stats/df unioning degenerates to the segment's
    own AND the (segment, doc_id) tie-break degenerates to exec.search's
    doc_id order — rows are EXACTLY exec.search's."""
    q = _queries()
    full = search(spark, load_index(spark, seg_indexes["full"]), q.copy())
    fed = search_federated(spark, [seg_indexes["full"]], q.copy())
    assert _rows(fed) == _rows(full)


def test_hot_dictionary_ceiling_is_per_segment(spark, seg_indexes, monkeypatch):
    """plan.MAX_HOT_TERMS applies to each segment on its own: a segment
    over the ceiling falls back to dictionary scans, the smaller one keeps
    its hot dictionary, and results do not change."""
    from invoicenet_spark.query import plan

    roots = [seg_indexes["full"], seg_indexes["a"]]
    q = _queries()
    want = _rows(search_federated(spark, roots, q.copy()))
    n_terms = [spark.read.parquet(load_index(spark, r).paths.terms).count() for r in roots]
    assert n_terms[0] > n_terms[1]
    monkeypatch.setattr(plan, "MAX_HOT_TERMS", n_terms[1])
    fed = FederatedIndex(spark, roots)
    got = _rows(search_federated(spark, fed, q.copy()))
    big, small = fed.segments
    assert big.hot_dict() is None
    assert small.hot_dict() is not None and len(small.hot_dict()) == n_terms[1]
    assert got == want


def test_time_pruning(spark, seg_indexes):
    fed = FederatedIndex(spark, [seg_indexes["a"], seg_indexes["b"]])
    # ranges recorded at build: segment a = docs 0..149 → ts < cut
    assert fed.live_segments() == [0, 1]
    assert fed.live_segments(ts_from="2024-01-01T00:02:40") == [1]
    assert fed.live_segments(ts_to="2024-01-01T00:01:00") == [0]
    assert (
        fed.live_segments(ts_from="2030-01-01", ts_to="2031-01-01") == []
    )

    # pruned federation ≡ searching the surviving segment alone — EXACT
    # (one live segment → its own stats and exec.search's tie order)
    q = _queries()
    only_b = search_federated(
        spark, fed, q.copy(), ts_from="2024-01-01T00:02:40"
    )
    solo_b = search(spark, load_index(spark, seg_indexes["b"]), q.copy())
    assert _rows(only_b) == _rows(solo_b)

    # fully-pruned window → 0 rows (and count mode → zeros per query)
    none = search_federated(spark, fed, q.copy(), ts_from="2030-01-01")
    assert none.count() == 0
    zc = search_federated(
        spark, fed, q.copy(), ts_from="2030-01-01", count_only=True
    ).toPandas()
    assert list(zc["total_hits"]) == [0] * len(q)


def test_count_federation(spark, seg_indexes):
    q = _queries()
    full = search(
        spark, load_index(spark, seg_indexes["full"]), q.copy(), count_only=True
    ).toPandas()
    fed = search_federated(
        spark, [seg_indexes["a"], seg_indexes["b"]], q.copy(), count_only=True
    ).toPandas()
    assert list(fed["total_hits"]) == list(full["total_hits"])


def test_local_federated_matches_spark(spark, seg_indexes):
    q = _queries()
    fed = search_federated(spark, [seg_indexes["a"], seg_indexes["b"]], q.copy())
    loc = search_local_federated([seg_indexes["a"], seg_indexes["b"]], q.copy())
    spark_rows = _rows(fed)
    local_rows = _rows(loc)
    assert local_rows == spark_rows

    # counts twin
    fc = search_federated(
        spark, [seg_indexes["a"], seg_indexes["b"]], q.copy(), count_only=True
    ).toPandas()
    lc = search_local_federated(
        [seg_indexes["a"], seg_indexes["b"]], q.copy(), count_only=True
    )
    assert list(lc["total_hits"]) == list(fc["total_hits"])

    # time-pruned serving twin
    lp = search_local_federated(
        [seg_indexes["a"], seg_indexes["b"]], q.copy(),
        ts_from="2024-01-01T00:02:40",
    )
    fp = search_federated(
        spark, [seg_indexes["a"], seg_indexes["b"]], q.copy(),
        ts_from="2024-01-01T00:02:40",
    )
    assert _rows(lp) == _rows(fp)


def test_local_federated_expansion_modes(spark, seg_indexes):
    """PREFIX/FUZZY expand per segment; union df keeps scores global."""
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": [MID[:4]], "mode": "PREFIX", "k": 10},
            {"query_id": 2, "terms": [MID], "mode": "FUZZY", "k": 10,
             "max_edits": 1},
        ]
    )
    fed = search_federated(spark, [seg_indexes["a"], seg_indexes["b"]], q.copy())
    loc = search_local_federated([seg_indexes["a"], seg_indexes["b"]], q.copy())
    assert _rows(loc) == _rows(fed)


def test_federated_guards(spark, seg_indexes):
    # a cursor without its segment component is ambiguous — refused
    q = _queries().assign(after_score=1.0, after_doc=0)
    with pytest.raises(ValueError, match="after_segment"):
        search_federated(spark, [seg_indexes["a"]], q)
    with pytest.raises(ValueError):
        FederatedIndex(spark, [])
    # an empty root list is refused on the serving path too
    with pytest.raises(ValueError):
        search_local_federated([], _queries())


def test_federated_pagination(spark, seg_indexes):
    """Pages fetched with the (after_score, after_segment, after_doc) cursor
    concatenate EXACTLY to the one-shot top-N — across both query paths."""
    roots = [seg_indexes["a"], seg_indexes["b"]]
    one_q = pd.DataFrame(
        [{"query_id": 1, "terms": [HOT, MID], "mode": "OR", "k": 30}]
    )
    oneshot = (
        search_federated(spark, roots, one_q.copy())
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert len(oneshot) == 30
    pages = []
    cursor = None
    for _ in range(3):
        pq = one_q.copy()
        pq["k"] = 10
        if cursor is not None:
            pq["after_score"] = cursor["score"]
            pq["after_segment"] = cursor["segment"]
            pq["after_doc"] = cursor["doc_id"]
        page = (
            search_federated(spark, roots, pq)
            .toPandas()
            .sort_values("rank")
            .reset_index(drop=True)
        )
        assert len(page) == 10
        # serving twin returns the identical page
        lp = search_local_federated(roots, pq.copy()).reset_index(drop=True)
        assert list(lp["doc_id"]) == list(page["doc_id"])
        assert list(lp["segment"]) == list(page["segment"])
        assert np.allclose(lp["score"], page["score"])
        pages.append(page)
        cursor = page.iloc[-1]
    got = pd.concat(pages, ignore_index=True)
    assert list(got["doc_id"]) == list(oneshot["doc_id"])
    assert list(got["segment"]) == list(oneshot["segment"])
    assert np.allclose(got["score"], oneshot["score"])


FIELDED_DOCS = [
    ("spark engine", "query engine for big data spark spark"),
    ("query planner", "spark spark spark planner internals"),
    ("window functions", "query window partition order"),
    ("", "spark only in body no title here"),
    ("spark spark spark", "unrelated text about nothing"),
    ("data systems", "window query window query window"),
    ("spark window", "partition query spark window data"),
    ("engine internals", "data data window spark order"),
]


@pytest.fixture(scope="module")
def fielded_seg_indexes(spark, tmp_path_factory):
    """Fielded full index + two halves (title/body, stored-text build)."""
    from invoicenet_spark.index.build import build_index

    cfg = EngineConfig(
        shard_size=32, block_size=8, build_partitions=4,
        fields=("title", "body"),
    )
    rows = [
        (f"{i:012d}", t, b, "en") for i, (t, b) in enumerate(FIELDED_DOCS)
    ]
    base = tmp_path_factory.mktemp("fed_fielded")
    roots = {}
    for name, rr in (("full", rows), ("a", rows[:4]), ("b", rows[4:])):
        root = str(base / name)
        build_index(
            spark,
            spark.createDataFrame(
                rr, "url string, title string, body string, lang string"
            ),
            root, cfg, use_stored_text=True,
        )
        roots[name] = root
    return roots


def test_fielded_federation(spark, fielded_seg_indexes):
    """Fielded segments federate: per-field avgdl/n_docs union in
    stats['fields'], field-qualified df union — scores equal the fielded
    union index's (tie-aware), serving twin row-identical."""
    r = fielded_seg_indexes
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": ["spark", "window"], "mode": "OR", "k": 8,
             "fields": {"title": 2.0, "body": 1.0}},
            {"query_id": 2, "terms": ["spark"], "mode": "OR", "k": 8},
            {"query_id": 3, "terms": ["title:spark^2 OR (body:window AND body:query)"],
             "mode": "BOOL", "k": 8},
        ]
    )
    fed = search_federated(spark, [r["a"], r["b"]], q.copy())
    _assert_fed_equiv(spark, r["full"], fed, q)
    loc = search_local_federated([r["a"], r["b"]], q.copy())
    fp = fed.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    lp = loc.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(lp["doc_id"]) == list(fp["doc_id"])
    assert list(lp["segment"]) == list(fp["segment"])
    assert np.allclose(lp["score"], fp["score"])


def test_federated_config_mismatch(spark, seg_indexes, fielded_seg_indexes):
    """A fielded and a flat segment can't score comparably — refused."""
    with pytest.raises(ValueError, match="configs differ"):
        FederatedIndex(spark, [seg_indexes["a"], fielded_seg_indexes["a"]])


def test_cli_federated_local(seg_indexes, capsys):
    """Comma-separated roots federate through the Spark-free CLI: ranked
    page + cursored page 2 + count + time-pruned window all round-trip."""
    import json

    from invoicenet_spark.cli import main

    roots = f"{seg_indexes['a']},{seg_indexes['b']}"
    assert main(["search", "--index", roots, "--terms", f"{HOT},{MID}",
                 "--local", "-k", "5"]) == 0
    page1 = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(page1) == 5 and {"rank", "segment", "doc_id", "url", "score"} <= set(page1[0])

    # exact cursor floats come from the API (the CLI prints rounded scores)
    exact = search_local_federated(
        [seg_indexes["a"], seg_indexes["b"]],
        pd.DataFrame([{"query_id": 1, "terms": [HOT, MID], "mode": "OR", "k": 5}]),
    ).iloc[-1]
    assert main(["search", "--index", roots, "--terms", f"{HOT},{MID}",
                 "--local", "-k", "5",
                 "--after-score", repr(float(exact["score"])),
                 "--after-segment", str(int(exact["segment"])),
                 "--after-doc", str(int(exact["doc_id"]))]) == 0
    page2 = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(page2) == 5
    assert {r["url"] for r in page1}.isdisjoint({r["url"] for r in page2})

    assert main(["search", "--index", roots, "--terms", HOT,
                 "--local", "--count"]) == 0
    n_all = json.loads(capsys.readouterr().out)["total_hits"]
    assert main(["search", "--index", roots, "--terms", HOT, "--local",
                 "--count", "--ts-from", "2024-01-01T00:02:40"]) == 0
    n_b = json.loads(capsys.readouterr().out)["total_hits"]
    assert 0 < n_b < n_all

    # missing --after-segment on a federated cursor is refused
    with pytest.raises(SystemExit):
        main(["search", "--index", roots, "--terms", HOT, "--local",
              "--after-score", "1.0", "--after-doc", "3"])


def test_cursor_nan_after_segment_raises():
    """A cursored row whose after_segment is NaN must raise like a missing
    column — filling -1 made every segment 'after' it and re-returned all
    ties at after_score (overlapping pages)."""
    import numpy as np

    from invoicenet_spark.query.federate import _segment_cursor_queries

    q = pd.DataFrame(
        [{"query_id": 1, "terms": ["x"], "mode": "OR", "k": 5,
          "after_score": 1.5, "after_segment": np.nan, "after_doc": 3}]
    )
    with pytest.raises(ValueError, match="after_segment"):
        _segment_cursor_queries(q, segment=0)


def test_mismatched_analyzer_chain_rejected(spark, seg_indexes, tmp_path):
    """Segments whose analyzer chains differ must not federate silently:
    each segment would analyze the query with its own chain and the
    union-df/score comparability contract breaks."""
    import json
    import shutil

    from invoicenet_spark.query.federate import (
        FederatedIndex,
        search_local_federated,
    )

    r0 = seg_indexes["a"]
    clone = str(tmp_path / "seg_badchain")
    shutil.copytree(r0, clone)
    sp = json.load(open(f"{clone}/stats.json"))
    sp["stopwords"] = ["the", "of"]
    json.dump(sp, open(f"{clone}/stats.json", "w"))
    with pytest.raises(ValueError, match="configs differ"):
        FederatedIndex(spark, [r0, clone])
    with pytest.raises(ValueError, match="configs differ"):
        search_local_federated([r0, clone], _queries().iloc[[0]])
