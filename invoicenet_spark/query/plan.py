"""One query planner for every query path: the Spark batch path
(exec.search), the Spark-free serving path (local.search_local) and the
federated dfs probe both federated paths share (federate._dfs) all
normalize a query batch through `normalize` and compile it into per-query
`QuerySpec`s through `query_specs` (which also applies federation's union
df), so a row can never mean one thing on one path and something else on
another. Every row, flat or BOOL, on every index, leaves `normalize` as a
tree, so there is one query representation and one router: every batch
runs shard by shard through `run_shard_batch`, which evaluates each spec's
tree through booltree.evaluate_shard_topk (booltree.evaluate_shard for
match counts).

Pipeline (`normalize`), in this order:

  analyze    the index's token-filter chain, ONCE per user-written term:
             flat rows and neg_terms (qparse), user BOOL trees' leaves
             (parsed here); no later step analyzes again
  synonyms   OR rows gain clauses, AND rows become BOOL trees (qparse)
  fielded    rows with a `fields` weight map become BOOL trees (booltree)
  expand     plain index: PREFIX/FUZZY/WILDCARD/REGEX rows expand against
             the dictionary into OR rows (a fielded index expands them per
             leaf in `trees`)
  compile    every remaining flat row becomes its bare-leaf tree
             (booltree.flat_row_to_tree), and every row's `neg_terms` fold
             into its tree as a `not` wrapper, so bare-leaf qualification
             and dictionary lookup cover them like any other leaf
  trees      trees qualify (fielded index), expand and get field stats
  needed     every dictionary key the batch can touch

Dictionary access goes through the `Dictionary` adapter both index handles
(exec.Index, local.LocalIndex) implement: hot-dictionary matching is written
here once; each backend supplies only how to load its hot dictionary and
its >MAX_HOT_TERMS fallbacks (a JVM dictionary scan on Spark, a pyarrow
scan on serving), since those are the only code that runs there.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from invoicenet_spark.index import bm25
from invoicenet_spark.query import booltree, kernels, qparse
from invoicenet_spark.query.fuzzy import levenshtein_within

MAX_HOT_TERMS = 5_000_000


def match_terms(kind: str, vocab, patterns, max_edits: int = 1) -> set[str]:
    """Dictionary terms matching any pattern: kind 'prefix' (startswith),
    'regex' (anchored full match, Python `re`) or 'fuzzy' (within max_edits
    Levenshtein edits). vocab is a pandas Index/Series of terms, or for
    'fuzzy' a numpy unicode array."""
    out: set[str] = set()
    for p in patterns:
        if kind == "fuzzy":
            out |= set(levenshtein_within(vocab, p, max_edits))
        elif kind == "prefix":
            out |= set(vocab[vocab.str.startswith(p)])
        else:
            out |= set(vocab[vocab.str.fullmatch(p)])
    return out


class Dictionary:
    """Term-dictionary adapter. Subclasses supply `hot_dict` (a term-indexed
    (term_id, df) frame, or None past MAX_HOT_TERMS), `_scan_terms` and
    `_scan_info` (the big-vocabulary fallbacks); lookup and expansion over
    the hot dictionary live here."""

    _fuzzy_vocab = None

    def hot_dict(self) -> "pd.DataFrame | None":
        raise NotImplementedError

    def _scan_terms(self, kind: str, patterns: list[str], max_edits: int, limit: int) -> set[str]:
        raise NotImplementedError

    def _scan_info(self, needed: list[str]) -> dict[str, tuple[int, int]]:
        raise NotImplementedError

    def term_info(self, needed: set[str]) -> dict[str, tuple[int, int]]:
        """term → (term_id, df) for the requested terms present in the
        dictionary."""
        hot = self.hot_dict()
        if hot is None:
            return self._scan_info(sorted(needed)) if needed else {}
        hit = hot.loc[[t for t in sorted(needed) if t in hot.index]]
        return dict(zip(hit.index, zip(hit["term_id"].tolist(), hit["df"].tolist())))

    def _expand(self, kind, patterns, max_edits, max_expansions) -> list[str]:
        """Shared expansion: hot-dictionary match or backend scan, then the
        clause cap (the BooleanQuery.TooManyClauses analog) and the
        deterministic lexicographic order (qparse.cap_prefix_expansion)."""
        if not patterns:
            return []
        if kind == "regex":
            # bad patterns surface as re.error on every backend. NOTE: the
            # Spark big-vocab fallback matches with JVM rlike, so patterns
            # must stick to the common Python/Java subset to expand alike
            [re.compile(p) for p in patterns]
        hot = self.hot_dict()
        if hot is None:
            out = self._scan_terms(kind, patterns, max_edits, max_expansions + 1)
        elif kind == "fuzzy":
            if self._fuzzy_vocab is None:
                # one O(vocab x maxlen) conversion per handle, not per row
                self._fuzzy_vocab = np.asarray(hot.index, dtype=str)
            out = match_terms(kind, self._fuzzy_vocab, patterns, max_edits)
        else:
            out = match_terms(kind, hot.index, patterns)
        return qparse.cap_prefix_expansion(out, patterns, max_expansions, kind=kind)

    def expand_prefixes(self, prefixes, max_expansions=qparse.MAX_PREFIX_EXPANSIONS):
        """PREFIX rewrite: dictionary terms starting with any prefix."""
        return self._expand("prefix", prefixes, 1, max_expansions)

    def expand_regex(self, patterns, max_expansions=qparse.MAX_PREFIX_EXPANSIONS):
        """REGEX/WILDCARD rewrite: dictionary terms FULLY matching any
        anchored pattern (WILDCARD rows translate via qparse first)."""
        return self._expand("regex", patterns, 1, max_expansions)

    def expand_fuzzy(self, terms, max_edits=1, max_expansions=qparse.MAX_PREFIX_EXPANSIONS):
        """FUZZY rewrite: dictionary terms within max_edits edits of any
        query term (FuzzyQuery analog)."""
        return self._expand("fuzzy", terms, max_edits, max_expansions)


# ------------------------------------------------------------- normalize --
def _is_null(v) -> bool:
    return v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v))


def _term_list(v) -> list[str]:
    """A list-valued optional cell (list, tuple, numpy array) as a list;
    None/NaN holes (pandas fills missing dict keys) mean empty."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [str(t) for t in v]
    return []


def _parse_bool_rows(queries: pd.DataFrame, stats: dict) -> pd.DataFrame:
    """Parse every user-written BOOL row's query (the `tree` column — dict
    or JSON — wins over a single query string in `terms`) and run the
    index's token-filter chain over its leaves (booltree.analyze_tree_leaves
    — the tree half of qparse.analyze_query_rows). Together the two analyze
    each user-written term exactly once: trees the later steps build come
    from already-analyzed terms and are never analyzed again (a stem that
    is itself a stopword, `ares` → `are`, would otherwise elide)."""
    mask = queries["mode"] == "BOOL"
    if not mask.any():
        return queries
    queries = queries.copy()
    if "tree" not in queries.columns:
        queries["tree"] = None
    stopwords = tuple(stats.get("stopwords") or ())
    stem = stats.get("stem")
    for i in queries.index[mask]:
        raw = queries.at[i, "tree"]
        if _is_null(raw):
            ts = queries.at[i, "terms"]
            if len(ts) != 1:
                raise ValueError(
                    "mode='BOOL' needs a `tree` (dict/JSON) or a single "
                    "query string in `terms`"
                )
            raw = ts[0]
        tree = booltree.as_tree(raw)
        if stopwords or stem:
            # every clause a stopword → keep the original tree: its terms
            # are absent from the dictionary, so it matches nothing
            tree = booltree.analyze_tree_leaves(
                tree, stopwords, stem, stats.get("fields") or {}
            ) or tree
        queries.at[i, "tree"] = tree
    return queries


def normalize(
    d: Dictionary, queries: pd.DataFrame, stats: dict, synonyms: dict | None = None
) -> tuple[pd.DataFrame, set[str], bool]:
    """Canonicalize a pandas query batch against ONE index's dictionary
    (module docstring). Returns (rows, needed_terms, positional): rows are
    the batch's row dicts, each, whatever its mode, carrying its expanded
    tree dict in `tree` and its sorted leaf terms in `terms`; needed_terms
    is every dictionary key the batch can touch; positional says whether
    any row needs position streams."""
    field_stats = stats.get("fields") or {}
    queries = qparse.analyze_query_rows(queries, stats)
    queries = _parse_bool_rows(queries, stats)
    queries = qparse.apply_synonyms_rows(queries, synonyms)
    queries = booltree.rewrite_fielded_rows(queries, field_stats, synonyms=synonyms)
    if field_stats:
        # PREFIX/FUZZY rows become prefix/fuzzy leaves, expanded per leaf
        # against the field-qualified keys below
        if queries["mode"].isin(["WILDCARD", "REGEX"]).any():
            raise ValueError(
                "WILDCARD/REGEX modes are not supported on fielded indexes "
                "(v1) — query one field with an explicit field-qualified "
                "pattern via expand_regex + OR"
            )
    else:
        expanders = {
            "PREFIX": lambda ts, _e: d.expand_prefixes(ts),
            "FUZZY": lambda ts, e: d.expand_fuzzy(ts, e),
            "WILDCARD": lambda ts, _e: d.expand_regex(
                [qparse.wildcard_to_regex(t) for t in ts]
            ),
            "REGEX": lambda ts, _e: d.expand_regex(ts),
        }
        for mode, expander in expanders.items():
            queries = qparse.rewrite_expansion_rows(queries, mode, expander)
    # every row as a tree: flat rows compile, neg_terms fold in as a `not`
    # wrapper (so on a fielded index they qualify like any bare leaf)
    rows = _records(queries)
    for q in rows:
        q["tree"] = booltree.attach_field_stats(
            booltree.normalize_query(
                booltree.with_negations(
                    q["tree"] if q["mode"] == "BOOL" else booltree.flat_row_to_tree(q),
                    _term_list(q.get("neg_terms")),
                ),
                d.expand_prefixes, d.expand_fuzzy, field_stats=field_stats,
            ),
            field_stats,
        )
        q["terms"] = sorted(booltree.leaf_terms(q["tree"]))
    positional = any(booltree.has_positional(q["tree"]) for q in rows)
    if positional and not stats.get("with_positions", False):
        raise ValueError(
            "PHRASE/NEAR queries (or phrase leaves in a BOOL query) require a "
            "positional index (build with EngineConfig(with_positions=True) / "
            "--with-positions)"
        )
    needed = set().union(*(q["terms"] for q in rows))
    return rows, needed, positional


def _records(queries: pd.DataFrame) -> list[dict]:
    """The rows of a query frame as dicts — what DataFrame.to_dict('records')
    returns, at a fraction of its per-call cost, which dominated the
    planning of a one-row serving query."""
    cols = list(queries.columns)
    return [dict(zip(cols, vals)) for vals in zip(*(queries[c].tolist() for c in cols))]


# ----------------------------------------------------------------- specs --
@dataclass
class QuerySpec:
    """One normalized query, resolved against the dictionary: its tree
    (booltree.resolve_tids: leaves carry term_ids, -1 = absent from the
    dictionary, so the leaf matches nothing) and idf per present leaf term
    — everything the tree evaluator needs besides a shard's posting rows.
    Leaf boosts stay on the tree (evaluate_shard_topk folds them into the
    posting views' idf)."""

    query_id: int
    k: int
    tree: dict
    idf: dict[int, float]
    after: tuple[float, int] | None = None

    def run_shard(self, rows: dict, stats: dict, *, deleted=None, count=False):
        """Run this query over ONE shard. rows: {term_id: posting row dict}
        for (at least) this query's terms present in the shard; deleted:
        the shard's sorted masked doc_ids or None. Returns the shard's
        top-k (docs, scores), or its match count when count (the
        track_total_hits analog: exhaustive, no scoring, cursor ignored)."""
        avgdl, k1, b = stats["avgdl"], stats["k1"], stats["b"]
        by_tid = {
            tid: kernels.TermPostings(rows[tid], idf=idf, avgdl=avgdl, k1=k1, b=b)
            for tid, idf in self.idf.items() if tid in rows
        }
        if count:
            docs, _ = booltree.evaluate_shard(self.tree, by_tid)
            return int(kernels.drop_deleted(docs, deleted).sum())
        return booltree.evaluate_shard_topk(
            self.tree, by_tid, self.k, deleted=deleted, after=self.after
        )


def run_shard_batch(
    specs: list[QuerySpec], rows: dict, stats: dict, deleted=None, count=False
) -> list:
    """Run a query batch over ONE shard — the per-shard loop of both the
    serving path and the Spark batch path's shard group. rows: {term_id:
    posting row dict} for the batch's terms present in the shard; deleted:
    the shard's sorted masked doc_ids or None. Returns one entry per spec:
    its (docs, scores) (its match count when count), or None when none of
    its leaf terms occur in the shard."""
    return [
        None if s.idf.keys().isdisjoint(rows)
        else s.run_shard(rows, stats, deleted=deleted, count=count)
        for s in specs
    ]


def query_specs(
    rows: list[dict],
    term_info: dict[str, tuple[int, int]],
    stats: dict,
    df_override: "dict[str, int] | None" = None,
) -> list[QuerySpec]:
    """Compile `normalize`'s rows into QuerySpecs. term_info: term → (term_id,
    df) from the index's dictionary; df_override: term → df to score with
    instead (federation's union df — a term it lacks keeps its own df).
    A missing or NaN after_score means no cursor."""
    N = stats["N"]
    dfs = df_override or {}
    tid = {t: i for t, (i, _df) in term_info.items()}
    idf = {t: float(bm25.idf(N, int(dfs.get(t, df)))) for t, (_i, df) in term_info.items()}
    specs = []
    for q in rows:
        a_s = q.get("after_score")
        specs.append(QuerySpec(
            query_id=int(q["query_id"]),
            k=int(q["k"]),
            tree=booltree.resolve_tids(q["tree"], tid),
            idf={tid[t]: idf[t] for t in q["terms"] if t in tid},
            after=None if _is_null(a_s) else (float(a_s), int(q["after_doc"])),
        ))
    return specs
