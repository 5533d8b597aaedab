"""The query planner without Spark: plan.normalize over an in-memory
dictionary. A mixed batch compiles to the same per-row trees as each row
normalized alone, the caller's frame is left as it was, and the rows
outside the query-row contract raise."""

import copy

import numpy as np
import pandas as pd
import pytest

from invoicenet_spark.query import plan

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
