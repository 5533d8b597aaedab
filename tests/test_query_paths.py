"""Cross-path property test: one seeded batch of random query rows through
the Spark batch path, the serving path and single-segment federation on
both — every path must return identical (query_id, rank, doc_id, score)
rows, and the plain AND/OR/PHRASE rows must equal the numpy BM25 oracle.

The batch covers modes AND/OR/PHRASE/NEAR/BOOL with neg_terms, min_match,
`term^boost`, search_after cursors and query-time synonyms over an index
with a tombstoned doc — plus the BOOL + neg_terms row whose must_not the
serving path once ignored, ordered and unordered NEAR rows with slop 0-3,
and BOOL disjunctions whose non-term clauses (a phrase, an AND subtree)
reach the MaxScore kernel as materialized lists, and a `^0` boost. Every
flat row also gives bit-identical rows to its BOOL spelling, and a second,
fielded index runs a batch of weighted AND/OR and BOOL rows through the
same four paths and per-field oracles."""

import dataclasses
import json
import random
import warnings

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.query.federate import search_federated, search_local_federated
from invoicenet_spark.query.local import search_local

CFG = EngineConfig(shard_size=16, block_size=4, build_partitions=2, with_positions=True)
VOCAB = ["spark", "data", "window", "query", "engine", "index", "alpha", "beta",
         "gamma", "delta", "rare", "zeta"]
WEIGHTS = [9, 8, 6, 6, 5, 5, 4, 4, 3, 3, 1, 2]
SYNONYMS = {"alpha": ["beta"], "engine": ["index", "zeta"]}
N_DOCS, N_ROWS, SEED = 80, 40, 7
BIG = 1000


def _seeded_texts() -> dict[str, str]:
    rng = random.Random(SEED)
    return {
        f"https://paths.example/{i:03d}": " ".join(
            rng.choices(VOCAB, WEIGHTS, k=rng.randint(3, 12))
        )
        for i in range(N_DOCS)
    }


def _build(spark, root, columns: dict[str, dict[str, str]], cfg) -> tuple[dict, int]:
    """Build an index from {column: {url: text}}, tombstone one doc; returns
    (url → doc_id, the deleted doc_id)."""
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.index.deletes import delete_docs

    urls = sorted(next(iter(columns.values())))
    pages = spark.createDataFrame(
        [(u, *(col[u] for col in columns.values()), "en") for u in urls],
        ", ".join(["url string", *(f"{c} string" for c in columns), "lang string"]),
    )
    build_index(spark, pages, root, cfg, use_stored_text=True)
    id_map = {
        r["url"]: r["doc_id"]
        for r in load_index(spark, root).docs.select("url", "doc_id").collect()
    }
    deleted = id_map["https://paths.example/003"]
    assert delete_docs(spark, root, doc_ids=[deleted]) == 1
    return id_map, deleted


@pytest.fixture(scope="module")
def paths_index(spark, tmp_path_factory):
    """(root, oracle, deleted doc_id) over seeded random-word docs, one doc
    tombstoned."""
    texts = _seeded_texts()
    root = str(tmp_path_factory.mktemp("paths") / "index")
    id_map, deleted = _build(spark, root, {"text": texts}, CFG)
    oracle = NumpyBM25Oracle({id_map[u]: t for u, t in texts.items()})
    return root, oracle, deleted


@pytest.fixture(scope="module")
def fielded_paths_index(spark, tmp_path_factory):
    """(root, {field: oracle over that field's text}, deleted doc_id): the
    same seeded docs split into a two-word title and the rest as body (so
    no field is ever empty), positional, one doc tombstoned."""
    texts = _seeded_texts()
    parts = {
        "title": {u: " ".join(t.split()[:2]) for u, t in texts.items()},
        "body": {u: " ".join(t.split()[2:]) for u, t in texts.items()},
    }
    root = str(tmp_path_factory.mktemp("fielded_paths") / "index")
    cfg = dataclasses.replace(CFG, fields=("title", "body"))
    id_map, deleted = _build(spark, root, parts, cfg)
    oracles = {
        f: NumpyBM25Oracle({id_map[u]: t for u, t in col.items()})
        for f, col in parts.items()
    }
    return root, oracles, deleted


def _random_rows(oracle) -> tuple[pd.DataFrame, set[int]]:
    """The seeded batch, and the query_ids of its plain rows (no modifier,
    no synonym key) that the oracle answers directly."""
    rng = random.Random(SEED)
    plain_vocab = [t for t in VOCAB if t not in SYNONYMS]
    rows, plain = [], set()
    for qid in range(N_ROWS):
        mode = rng.choice(["AND", "OR", "OR", "PHRASE", "BOOL"])
        pool = plain_vocab if qid % 2 else VOCAB
        terms = rng.sample(pool, rng.randint(1, 3))
        row = {"query_id": qid, "terms": terms, "mode": mode, "k": rng.choice([3, 10]),
               "neg_terms": [], "min_match": 0, "after_score": np.nan,
               "after_doc": np.nan}
        if mode == "PHRASE":
            # a bigram that occurs, so phrase rows have hits
            doc = rng.choice(sorted(oracle._texts))
            toks = oracle._texts[doc].split()
            i = rng.randrange(max(len(toks) - 1, 1))
            row["terms"] = toks[i:i + 2]
        elif mode == "BOOL":
            a, b, c = rng.sample(VOCAB, 3)
            row["terms"] = [rng.choice([f"({a} OR {b}) AND NOT {c}",
                                        f"{a} AND ({b} OR {c}^2)",
                                        f'"{a} {b}" OR {c}'])]
        if qid % 2 and mode != "BOOL" and qid % 3 == 0:
            plain.add(qid)
        elif mode != "PHRASE":
            twist = rng.choice(["neg", "mm", "boost", "cursor"])
            if twist == "neg":
                row["neg_terms"] = [rng.choice(VOCAB)]
            elif twist == "mm" and mode == "OR" and len(terms) > 1:
                row["min_match"] = 2
            elif twist == "boost" and mode != "BOOL":
                row["terms"] = [f"{t}^2.5" if j == 0 else t for j, t in enumerate(terms)]
            elif twist == "cursor" and mode != "BOOL":
                page1 = oracle.topk(terms, k=2, mode=mode)
                if page1:
                    row["after_score"], row["after_doc"] = page1[-1][1], page1[-1][0]
        rows.append(row)
    # the BOOL + neg_terms row the serving path used to answer without its
    # must_not (neg_terms are folded into the tree now)
    rows.append({"query_id": N_ROWS, "terms": ["spark OR data"], "mode": "BOOL",
                 "k": BIG, "neg_terms": ["window"], "min_match": 0,
                 "after_score": np.nan, "after_doc": np.nan})
    extra = _near_rows(oracle) + [
        # stopword OR "a phrase" / term OR (rare AND stopword)
        {"terms": ['spark OR "data window"'], "mode": "BOOL"},
        {"terms": ["window OR (rare AND spark)"], "mode": "BOOL"},
        {"terms": ["spark^0", "data"], "mode": "OR"},  # ^0 stays valid
    ]
    for qid, row in enumerate(extra, start=N_ROWS + 1):
        rows.append({"query_id": qid, "k": 3, "neg_terms": [], "min_match": 0,
                     "after_score": np.nan, "after_doc": np.nan, **row})
    q = pd.DataFrame(rows)
    q["slop"] = q["slop"].fillna(0).astype(int)
    q["ordered"] = [o is not False for o in q["ordered"]]
    q["after_segment"] = 0  # federated cursors name the segment
    return q, plain


def _near_rows(oracle) -> list[dict]:
    """NEAR rows, ordered and unordered, with slop 0-3. Each row's two
    words sit slop+1 apart in some doc (swapped for unordered rows), so
    every row has a hit."""
    rng = random.Random(SEED + 1)
    docs = sorted(oracle._texts)
    rows = []
    for slop in range(4):
        for ordered in (True, False):
            while True:
                toks = oracle._texts[rng.choice(docs)].split()
                i = rng.randrange(len(toks))
                pair = toks[i:i + slop + 2:slop + 1]
                if len(pair) == 2 and pair[0] != pair[1]:
                    break
            rows.append({"terms": pair if ordered else pair[::-1], "mode": "NEAR",
                         "slop": slop, "ordered": ordered})
    return rows


def _rows(df) -> list[tuple]:
    return sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), round(float(r.score), 9))
        for r in df.itertuples()
    )


def test_every_path_gives_the_same_rows(spark, paths_index):
    root, oracle, deleted = paths_index
    q, plain = _random_rows(oracle)
    idx = load_index(spark, root)
    spark_rows = _rows(search(spark, idx, q, synonyms=SYNONYMS).toPandas())
    assert spark_rows == _rows(search_local(root, q, synonyms=SYNONYMS))

    assert spark_rows == _rows(
        search_federated(spark, [root], q, synonyms=SYNONYMS).toPandas()
    )
    assert spark_rows == _rows(search_local_federated([root], q, synonyms=SYNONYMS))

    by_q: dict[int, list] = {}
    for qid, rank, doc, score in spark_rows:
        by_q.setdefault(qid, []).append((doc, score))
    assert plain and N_ROWS in by_q
    for r in q[q["query_id"].isin(plain)].itertuples():
        expect = [
            (d, s)
            for d, s in oracle.topk(list(r.terms), k=BIG, mode=r.mode)
            if d != deleted
        ][: r.k]
        got = by_q.get(r.query_id, [])
        assert [d for d, _ in got] == [d for d, _ in expect], r
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], rtol=0, atol=1e-9
        )

    # BOOL + neg_terms: no result doc contains the negated term
    window_docs = set(oracle.postings["window"])
    hits = {d for d, _ in by_q[N_ROWS]}
    assert hits and not hits & window_docs
    # every NEAR, mixed-disjunction and ^0 row answers
    assert set(range(N_ROWS + 1, len(q))) <= set(by_q)

    # count_only and matches_only run the same per-shard loop: counts and
    # full match sets agree with the serving path (k = N_DOCS covers every
    # match there)
    counts = search(spark, idx, q, count_only=True, synonyms=SYNONYMS).toPandas()
    local_counts = search_local(root, q, count_only=True, synonyms=SYNONYMS)
    assert sorted(map(tuple, counts.values.tolist())) == sorted(
        map(tuple, local_counts.values.tolist())
    )
    assert counts["total_hits"].sum() > 0
    matches = search(spark, idx, q, matches_only=True, synonyms=SYNONYMS).toPandas()
    local_all = search_local(root, q.assign(k=N_DOCS), synonyms=SYNONYMS)
    assert _rows(matches.assign(rank=0)) == _rows(local_all.assign(rank=0))
    assert len(matches) > len(spark_rows)


def _bool_spelling(row: dict) -> dict:
    """A flat row of the seeded batch as its BOOL spelling: AND/OR terms
    joined by the grammar's operators (a min_match OR as a JSON tree, which
    the grammar cannot spell), PHRASE as `"a b"`, NEAR as `"a b"~n` (`~~n`
    unordered), neg_terms as `NOT`; k and the cursor ride along."""
    from invoicenet_spark.query.booltree import parse

    terms, mode = list(row["terms"]), row["mode"]
    if mode in ("PHRASE", "NEAR"):
        tilde = "" if mode == "PHRASE" else ("~" if row["ordered"] else "~~") + str(row["slop"])
        grammar = f'"{" ".join(terms)}"{tilde}'
    else:
        grammar = f" {mode} ".join(terms)
    if row["min_match"] > 1:
        tree = {"kind": "or", "clauses": [parse(t) for t in terms],
                "min_match": int(row["min_match"])}
        for n in row["neg_terms"]:
            tree = {"kind": "not", "positive": tree, "negative": parse(n)}
        spelled = json.dumps(tree)
    else:
        spelled = " ".join([f"({grammar})", *(f"NOT {n}" for n in row["neg_terms"])])
    return {"query_id": row["query_id"], "terms": [spelled], "mode": "BOOL",
            "k": row["k"], "after_score": row["after_score"], "after_doc": row["after_doc"]}


def _exact_rows(df) -> list[tuple]:
    return sorted(
        (int(r.query_id), int(r.rank), int(r.doc_id), float(r.score))
        for r in df.itertuples()
    )


def test_flat_rows_equal_their_bool_spelling(spark, paths_index):
    """Every flat row compiles into the tree its BOOL spelling parses to, so
    the two give bit-identical rows on both paths (`a b` AND ≡ `a AND b`,
    NEAR ≡ `"a b"~n`/`~~n`, neg_terms ≡ NOT, cursors and boosts kept)."""
    root, oracle, _ = paths_index
    q, _ = _random_rows(oracle)
    flat = q[q["mode"] != "BOOL"]
    spelled = pd.DataFrame([_bool_spelling(r) for r in flat.to_dict("records")])
    assert set(flat["mode"]) == {"AND", "OR", "PHRASE", "NEAR"}
    idx = load_index(spark, root)
    for run in (lambda x: search(spark, idx, x).toPandas(), lambda x: search_local(root, x)):
        got = _exact_rows(run(flat))
        assert got and got == _exact_rows(run(spelled))


FIELD_WEIGHTS = [{"title": 2.0, "body": 1.0}, {"title": 1.0}, {"body": 1.5, "title": 0.5}]
N_FIELDED_ROWS = 30


def _fielded_topk(oracles, terms, weights, mode, deleted):
    """Weighted sum of per-field BM25 partials over the base terms; AND
    needs every term in >= 1 weighted field. Ranked, tombstone dropped."""
    scores, hit = {}, {}
    for t in dict.fromkeys(terms):
        for f, w in weights.items():
            for d, s in oracles[f].score_all([t]).items():
                scores[d] = scores.get(d, 0.0) + w * s
                hit.setdefault(d, set()).add(t)
    keep = [(d, s) for d, s in scores.items()
            if d != deleted and (mode == "OR" or hit[d] == set(terms))]
    return sorted(keep, key=lambda kv: (-kv[1], kv[0]))


def _fielded_rows(oracles, deleted) -> tuple[pd.DataFrame, set[int]]:
    """A seeded batch for the fielded index: AND/OR rows with `fields`
    weights and BOOL rows with bare and field-qualified leaves, twisted by
    neg_terms, min_match, cursors or a dropped `fields` map (the drop-in
    rewrite); and the query_ids of its untwisted weighted rows, which the
    per-field oracles answer directly."""
    rng = random.Random(SEED + 2)
    plain_vocab = [t for t in VOCAB if t not in SYNONYMS]
    rows, checked = [], set()
    for qid in range(N_FIELDED_ROWS):
        mode = rng.choice(["AND", "OR", "OR", "BOOL"])
        terms = rng.sample(plain_vocab if qid % 2 else VOCAB, rng.randint(1, 3))
        row = {"query_id": qid, "terms": terms, "mode": mode, "k": rng.choice([3, 10]),
               "fields": dict(rng.choice(FIELD_WEIGHTS)), "neg_terms": [],
               "min_match": 0, "after_score": np.nan, "after_doc": np.nan}
        if mode == "BOOL":
            a, b, c = rng.sample(VOCAB, 3)
            row["fields"] = None
            row["terms"] = [rng.choice([f"title:{a} OR body:{b}^2",
                                        f"({a} OR {b}) AND NOT title:{c}",
                                        f"{a} AND (body:{b} OR {c}^2)"])]
        if qid % 2 and mode != "BOOL" and qid % 3 == 0:
            checked.add(qid)
        else:
            twist = rng.choice(["neg", "mm", "cursor", "drop-in"])
            if twist == "neg":
                row["neg_terms"] = [rng.choice(VOCAB)]
            elif twist == "mm" and mode == "OR" and len(terms) > 1:
                row["min_match"] = 2
            elif twist == "cursor" and mode != "BOOL":
                page1 = _fielded_topk(oracles, terms, row["fields"], mode, deleted)[:2]
                if page1:
                    row["after_score"], row["after_doc"] = page1[-1][1], page1[-1][0]
            elif twist == "drop-in" and mode != "BOOL":
                row["fields"] = None
        rows.append(row)
    q = pd.DataFrame(rows)
    q["after_segment"] = 0
    return q, checked


def test_fielded_rows_give_the_same_rows_on_every_path(spark, fielded_paths_index):
    root, oracles, deleted = fielded_paths_index
    q, checked = _fielded_rows(oracles, deleted)
    idx = load_index(spark, root)
    spark_rows = _rows(search(spark, idx, q, synonyms=SYNONYMS).toPandas())
    assert spark_rows == _rows(search_local(root, q, synonyms=SYNONYMS))
    assert spark_rows == _rows(
        search_federated(spark, [root], q, synonyms=SYNONYMS).toPandas()
    )
    assert spark_rows == _rows(search_local_federated([root], q, synonyms=SYNONYMS))

    by_q: dict[int, list] = {}
    for qid, _rank, doc, score in spark_rows:
        by_q.setdefault(qid, []).append((doc, score))
    assert checked and len(by_q) > N_FIELDED_ROWS // 2
    for r in q[q["query_id"].isin(checked)].itertuples():
        expect = _fielded_topk(oracles, list(r.terms), r.fields, r.mode, deleted)[: r.k]
        got = by_q.get(r.query_id, [])
        assert [d for d, _ in got] == [d for d, _ in expect], r
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in expect], rtol=0, atol=1e-9
        )


@pytest.mark.parametrize("mode", ["PHRASE", "NEAR"])
@pytest.mark.parametrize("index", ["paths_index", "fielded_paths_index"],
                         ids=["plain", "fielded"])
def test_phrase_slot_boost_raises(spark, request, index, mode):
    """A phrase takes one boost, on the whole phrase (`"a b"^2` in the BOOL
    grammar): a `^boost` on a PHRASE/NEAR slot fails loudly on both paths,
    on plain and fielded indexes alike, naming the term."""
    root = request.getfixturevalue(index)[0]
    q = pd.DataFrame([{"query_id": 1, "terms": ["data^2", "window"], "mode": mode,
                       "k": 5, "slop": 1}])
    for run in (lambda: search(spark, load_index(spark, root), q),
                lambda: search_local(root, q)):
        with pytest.raises(ValueError, match=r"'data'.*\"a b\"\^2"):
            run()


@pytest.mark.parametrize(
    "row",
    [
        {"terms": ["spark^-2", "data"], "mode": "OR"},
        {"terms": ["spark^-2 OR data"], "mode": "BOOL"},
        {"terms": ["spark^nan", "data"], "mode": "OR"},
        {"terms": ["spark^inf"], "mode": "AND"},
        {"terms": ["spark^inf OR data"], "mode": "BOOL"},
    ],
    ids=["flat-negative", "bool-negative", "flat-nan", "flat-inf", "bool-inf"],
)
def test_negative_and_non_finite_boosts_raise(spark, paths_index, row):
    """MaxScore pruning needs every partial >= 0: a negative or non-finite
    boost fails loudly on both paths, naming the term."""
    root, _, _ = paths_index
    q = pd.DataFrame([{"query_id": 1, "k": 5, **row}])
    with pytest.raises(ValueError, match="'spark'"):
        search(spark, load_index(spark, root), q)
    with pytest.raises(ValueError, match="'spark'"):
        search_local(root, q)



def test_search_infers_group_eval_type_without_warning(spark, paths_index):
    """The shard-kernel group function gives PySpark nothing it cannot
    infer: no 'Cannot infer the eval type' warning per search call."""
    root, _, _ = paths_index
    q = pd.DataFrame([{"query_id": 1, "terms": ["spark", "data"], "mode": "OR", "k": 5}])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        search(spark, load_index(spark, root), q).toPandas()
    assert not [w for w in caught if "infer the eval type" in str(w.message)]


def test_batch_groups_postings_by_shard_only(spark, paths_index):
    """The Spark batch runs one kernel group per shard: the executed plan
    has exactly one cogrouped pandas call keyed on `shard` alone (postings
    beside the tombstone mask), and nothing joins on term_id — each probed
    posting row reaches the kernels once, whatever the number of queries."""
    import re

    root, _, _ = paths_index
    q = pd.DataFrame([
        {"query_id": i, "terms": ["spark", "data"], "mode": m, "k": 5}
        for i, m in enumerate(["OR", "AND", "OR"])
    ])
    df = search(spark, load_index(spark, root), q)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the executed (post-AQE) plan
    groups = re.findall(r"FlatMapCoGroupsInPandas \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert len(groups) == 1, plan
    assert all(re.fullmatch(r"shard#\d+L?", key) for key in groups[0]), plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert joins and not [ln for ln in joins if "term_id" in ln], plan


def test_url_join_broadcasts_the_topk_side(spark, paths_index):
    """with_url joins the tiny top-k rows onto the docs scan: the executed
    plan's BroadcastExchange sits over the top-k side, never over the
    corpus-sized docs table."""
    root, _, _ = paths_index
    q = pd.DataFrame([{"query_id": 1, "terms": ["spark"], "mode": "OR", "k": 5}])
    df = search(spark, load_index(spark, root), q)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # the executed (post-AQE) plan
    join = plan[plan.index("BroadcastHashJoin [doc_id"):]
    assert "Inner, BuildRight" in join.splitlines()[0], plan
    # children print streamed side first: the docs scan, then the build
    # side's BroadcastExchange over the ranked top-k rows
    streamed, built = join.split("BroadcastExchange", 1)
    assert "/docs]" in streamed and "Window" not in streamed, plan
    assert "Window" in built, plan
