"""The query planner without Spark: plan.normalize over an in-memory
dictionary. A mixed batch compiles to the same per-row trees as each row
normalized alone, the caller's frame is left as it was, and the rows
outside the query-row contract raise. plan.run_shard_batch decodes each
posting row at most once per batch, however many queries share it."""

import copy

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.index import codec
from invoicenet_spark.query import kernels, plan

VOCAB = ["spark", "sparky", "data", "window", "windows", "query", "engine",
         "index", "alpha", "beta", "gamma", "delta", "are"]
SYN = {"spark": ["sparky"], "engine": ["index"]}
CHAIN = {"stopwords": ["the", "of", "are"], "stem": "s_stem"}
PLAIN = {"N": 100, "avgdl": 5.0, "with_positions": True, **CHAIN}
FIELDS = {"title": {"avgdl": 2.0}, "body": {"avgdl": 8.0}}
FIELDED = {**PLAIN, "fields": FIELDS}


class MemDictionary(plan.Dictionary):
    """A hot dictionary held in memory: term → (term_id, df)."""

    def __init__(self, terms):
        terms = sorted(terms)
        self._hot = pd.DataFrame(
            {"term_id": np.arange(len(terms)), "df": np.ones(len(terms), dtype=int)},
            index=pd.Index(terms, name="term"),
        )

    def hot_dict(self):
        return self._hot


PLAIN_DICT = MemDictionary(VOCAB)
FIELDED_DICT = MemDictionary(f"{f}:{t}" for f in FIELDS for t in VOCAB)

PLAIN_ROWS = [
    {"terms": ["the", "spark^2", "datas"], "mode": "OR", "neg_terms": ["windows"]},
    {"terms": ["spark", "spark", "engines"], "mode": "AND"},
    {"terms": ["spark^2", "spark^2", "query"], "mode": "OR", "min_match": 2},
    {"terms": ["of", "the"], "mode": "OR"},
    {"terms": ["query", "of", "engine"], "mode": "PHRASE"},
    {"terms": ["data", "window"], "mode": "NEAR", "slop": 2, "ordered": False},
    {"terms": ["(spark OR alpha) AND NOT betas"], "mode": "BOOL",
     "neg_terms": ["gamma"]},
    {"terms": [], "mode": "BOOL", "tree": {"kind": "or", "clauses": [
        {"kind": "term", "term": "engines", "boost": 2.0},
        {"kind": "prefix", "prefix": "del"}]}},
    {"terms": [], "mode": "BOOL",
     "tree": '{"kind": "fuzzy", "term": "alpah", "max_edits": 2}'},
    {"terms": ["sp", "wi^3"], "mode": "PREFIX"},
    {"terms": ["dta"], "mode": "FUZZY", "max_edits": 1, "neg_terms": ["are"]},
    {"terms": ["w?ndow*"], "mode": "WILDCARD"},
    {"terms": ["(alpha|beta)"], "mode": "REGEX", "min_match": 0},
]
FIELDED_ROWS = [
    {"terms": ["spark", "query^2"], "mode": "OR", "fields": {"title": 2.0, "body": 1.0}},
    {"terms": ["spark", "spark", "engine"], "mode": "AND", "fields": {"body": 1.5},
     "neg_terms": ["data"]},
    {"terms": ["spark^2", "spark^2", "alpha"], "mode": "OR", "min_match": 2},
    {"terms": ["engines", "window"], "mode": "AND", "fields": None},
    {"terms": ["title:spark OR body:query^2 OR gam*"], "mode": "BOOL"},
    {"terms": ["del"], "mode": "PREFIX"},
    {"terms": ["bata"], "mode": "FUZZY", "max_edits": 1},
    {"terms": ["query", "window"], "mode": "PHRASE"},
]


def _frame(rows):
    return pd.DataFrame(
        [{"query_id": i, "k": 5, **r} for i, r in enumerate(rows)]
    )


@pytest.mark.parametrize(
    "d,stats,rows",
    [(PLAIN_DICT, PLAIN, PLAIN_ROWS), (FIELDED_DICT, FIELDED, FIELDED_ROWS)],
    ids=["plain", "fielded"],
)
@pytest.mark.parametrize("synonyms", [None, SYN], ids=["no-syn", "syn"])
def test_batch_equals_rows_alone_and_leaves_the_frame(d, stats, rows, synonyms):
    q = _frame(rows)
    before = copy.deepcopy(q)
    got, needed, positional = plan.normalize(d, q, stats, synonyms)
    assert repr(q.to_dict("list")) == repr(before.to_dict("list"))
    assert list(q.columns) == list(before.columns)
    assert positional
    assert [r["query_id"] for r in got] == list(range(len(rows)))
    for i, row in enumerate(rows):
        # alone, a row has no NaN holes: its missing optional keys are
        # absent columns
        (alone,), alone_needed, _ = plan.normalize(
            d, pd.DataFrame([{"query_id": i, "k": 5, **row}]), stats, synonyms
        )
        assert got[i]["tree"] == alone["tree"], row
        assert got[i]["terms"] == alone["terms"] == sorted(alone_needed)
    assert needed == set().union(*(r["terms"] for r in got))


def test_synonyms_follow_the_duplicate_rules():
    """With a synonym map as without one: duplicate boosts sum on OR rows,
    and a plain duplicate is one group on AND rows."""
    def tree(terms, mode):
        q = _frame([{"terms": terms, "mode": mode}])
        return plan.normalize(PLAIN_DICT, q, PLAIN, SYN)[0][0]["tree"]

    assert tree(["spark^2", "spark^2"], "OR") == tree(["spark^4"], "OR")
    assert tree(["spark", "spark", "data"], "AND") == tree(["spark", "data"], "AND")


@pytest.mark.parametrize(
    "d,stats,row,match",
    [
        (PLAIN_DICT, PLAIN, {"terms": ["spark", "data"], "mode": "BOOL"}, "mode='BOOL'"),
        (PLAIN_DICT, PLAIN, {"terms": [], "mode": "BOOL", "tree": None}, "mode='BOOL'"),
        (FIELDED_DICT, FIELDED,
         {"terms": ["spark", "data"], "mode": "PHRASE", "fields": {"body": 1.0}},
         "`fields` applies"),
        (FIELDED_DICT, FIELDED, {"terms": ["sp*"], "mode": "WILDCARD"}, "WILDCARD/REGEX"),
        (FIELDED_DICT, FIELDED, {"terms": ["sp.*"], "mode": "REGEX"}, "WILDCARD/REGEX"),
        # a synonym group checks its boost like any other leaf
        (PLAIN_DICT, PLAIN, {"terms": ["spark^-2", "data"], "mode": "AND"}, ">= 0"),
    ],
)
def test_out_of_contract_rows_raise(d, stats, row, match):
    q = _frame([{"terms": ["spark"], "mode": "OR"}, row])
    with pytest.raises(ValueError, match=match):
        plan.normalize(d, q, stats, SYN)


# ------------------------------------------------------- run_shard_batch --
SHARED_ROWS = [
    r
    for t in ["alpha", "beta", "gamma", "delta", "window", "query", "index"]
    for r in (
        {"terms": ["spark", t], "mode": "OR"},
        {"terms": ["data", t], "mode": "AND"},
        {"terms": [f"spark AND NOT {t}"], "mode": "BOOL"},
        {"terms": ["spark", "data", t], "mode": "OR", "min_match": 2},
        {"terms": [t, "engine"], "mode": "OR", "neg_terms": ["data"]},
    )
] + [{"terms": ["wind", "sp"], "mode": "PREFIX"}]


def _shard_rows(n_docs=3000, block_size=16, seed=5):
    """One shard's encoded posting rows for VOCAB (term_id = sorted
    position, as MemDictionary assigns): two hot terms, the rest rarer."""
    rng = np.random.default_rng(seed)
    dls = rng.integers(20, 200, size=n_docs).astype(np.int64)
    rows = {}
    for tid, term in enumerate(sorted(VOCAB)):
        df = {"spark": 2400, "data": 1500}.get(term, int(rng.integers(20, 400)))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 9, size=df).astype(np.int64)
        rows[tid] = codec.encode_posting_list(docs, tfs, dls[docs], block_size=block_size)
        rows[tid]["term_id"] = tid
    return rows, {"N": n_docs, "avgdl": float(dls.mean()), "k1": 1.2, "b": 0.75}


def test_run_shard_batch_decodes_each_row_once(monkeypatch):
    """Through plan.run_shard_batch, a batch whose queries share terms
    fully decodes each posting row at most once, and doubling the queries
    that share each term adds no varbyte decode; the repeated queries
    answer bit for bit like the originals."""
    rows, stats = _shard_rows()

    def specs(n_copies):
        q = _frame(SHARED_ROWS * n_copies)
        qrows, needed, _ = plan.normalize(PLAIN_DICT, q, stats)
        return plan.query_specs(qrows, PLAIN_DICT.term_info(needed), stats)

    full, vb = [], []
    real_full, real_vb = kernels.decode_posting_list, codec.vb_decode

    def counting_full(row):
        full.append(row["term_id"])
        return real_full(row)

    def counting_vb(*a, **k):
        vb.append(1)
        return real_vb(*a, **k)

    monkeypatch.setattr(kernels, "decode_posting_list", counting_full)
    monkeypatch.setattr(codec, "vb_decode", counting_vb)
    results, decodes = [], []
    for n_copies in (1, 2):
        full.clear()
        vb.clear()
        results.append(plan.run_shard_batch(specs(n_copies), rows, stats))
        assert len(full) == len(set(full)), "a posting row was fully decoded twice"
        decodes.append(len(vb))
    assert decodes[0] > 0
    assert decodes[1] == decodes[0], f"varbyte decodes grew {decodes[0]} -> {decodes[1]}"
    one, two = results
    n = len(SHARED_ROWS)
    assert sum(r is not None and r[0].size > 0 for r in one) > n // 2
    for i, a in enumerate(one):
        for b in (two[i], two[i + n]):
            assert a[0].tobytes() == b[0].tobytes() and a[1].tobytes() == b[1].tobytes()
