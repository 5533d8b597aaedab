"""One query planner for every query path: the Spark batch path
(exec.search), the Spark-free serving path (local.search_local) and the
federated dfs probe (federate.search_local_federated) all normalize a
query batch through `normalize` and compile it into per-query `QuerySpec`s
through `query_specs`, so a row can never mean one thing on one path and
something else on another. Every spec then runs per (query, shard) through
the one router, kernels.run_shard.

Pipeline (`normalize`), in this order:

  analyze    the index's token-filter chain, ONCE per user-written term:
             flat rows and neg_terms (qparse), user BOOL trees' leaves
             (parsed here); no later step analyzes again
  synonyms   OR rows gain clauses, AND rows become BOOL trees (qparse)
  fielded    rows with a `fields` weight map become BOOL trees (booltree)
  negations  every BOOL row's `neg_terms` fold into its tree as a `not`
             wrapper, so bare-leaf qualification and dictionary lookup
             cover them like any other leaf
  expand     fielded index: flat rows become bare-leaf trees; otherwise
             PREFIX/FUZZY/WILDCARD/REGEX rows expand against the dictionary
  trees      BOOL trees qualify, expand and get field stats
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


def _fold_negations(queries: pd.DataFrame) -> pd.DataFrame:
    """Fold every BOOL row's `neg_terms` into its tree
    (booltree.with_negations), clearing the column: a BOOL row's must_not
    then rides the tree on every path, and on a fielded index its bare
    leaves qualify across fields like the positive ones."""
    mask = queries["mode"] == "BOOL"
    if not mask.any() or "neg_terms" not in queries.columns:
        return queries
    queries = queries.copy()
    for i in queries.index[mask]:
        negs = _term_list(queries.at[i, "neg_terms"])
        if negs:
            queries.at[i, "tree"] = booltree.with_negations(queries.at[i, "tree"], negs)
            queries.at[i, "neg_terms"] = []
    return queries


def normalize(
    d: Dictionary, queries: pd.DataFrame, stats: dict, synonyms: dict | None = None
) -> tuple[pd.DataFrame, set[str], bool]:
    """Canonicalize a pandas query batch against ONE index's dictionary
    (module docstring). Returns (queries, needed_terms, positional): rows
    are left with modes AND/OR/PHRASE/NEAR/BOOL, BOOL rows carry their
    expanded tree dict in `tree` and its sorted leaf terms in `terms`;
    needed_terms is every boost-stripped dictionary key the batch can
    touch; positional says whether any row needs position streams."""
    field_stats = stats.get("fields") or {}
    queries = qparse.analyze_query_rows(queries, stats)
    queries = _parse_bool_rows(queries, stats)
    queries = qparse.apply_synonyms_rows(queries, synonyms)
    queries = booltree.rewrite_fielded_rows(queries, field_stats, synonyms=synonyms)
    queries = _fold_negations(queries)
    if field_stats:
        if queries["mode"].isin(["WILDCARD", "REGEX"]).any():
            raise ValueError(
                "WILDCARD/REGEX modes are not supported on fielded indexes "
                "(v1) — query one field with an explicit field-qualified "
                "pattern via expand_regex + OR"
            )
        # a fielded index is a query-time drop-in: flat rows become
        # bare-leaf trees that qualify across all fields below
        queries = booltree.auto_fielded_rows(queries)
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

    positional = bool(queries["mode"].isin(["PHRASE", "NEAR"]).any())
    bool_mask = queries["mode"] == "BOOL"
    if bool_mask.any():
        queries = queries.copy()
        for i in queries.index[bool_mask]:
            tree = booltree.attach_field_stats(
                booltree.normalize_query(
                    queries.at[i, "tree"], d.expand_prefixes, d.expand_fuzzy,
                    field_stats=field_stats,
                ),
                field_stats,
            )
            queries.at[i, "tree"] = tree
            queries.at[i, "terms"] = sorted(booltree.leaf_terms(tree))
            positional |= booltree.has_positional(tree)
    if positional and not stats.get("with_positions", False):
        raise ValueError(
            "PHRASE/NEAR queries (or phrase leaves in a BOOL query) require a "
            "positional index (build with EngineConfig(with_positions=True) / "
            "--with-positions)"
        )
    needed = {t.partition("^")[0] for ts in queries["terms"] for t in ts}
    if "neg_terms" in queries.columns:
        needed |= {t for ts in queries["neg_terms"] for t in _term_list(ts)}
    return queries, needed, positional


# ----------------------------------------------------------------- specs --
@dataclass
class QuerySpec:
    """One normalized query, resolved against the dictionary: everything
    kernels.run_shard needs besides a shard's posting rows.

    slots: (term_id, idf) per kernel input — slot order for PHRASE/NEAR,
    distinct terms for AND/OR (term_id -1 = absent from the dictionary, so
    an AND/PHRASE/NEAR query matches nothing), distinct present leaves for
    BOOL. idf carries any `term^boost`. neg: term_ids whose docs are
    excluded (must_not)."""

    query_id: int
    mode: str
    k: int
    slots: list[tuple[int, float]]
    neg: list[int]
    tree: dict | None = None
    min_match: int = 0
    slop: int = 0
    ordered: bool = True
    after: tuple[float, int] | None = None

    def term_ids(self) -> set[int]:
        """Present term_ids whose postings this query reads."""
        return {t for t, _ in self.slots if t >= 0} | set(self.neg)

    def run_shard(self, rows: dict, stats: dict, *, kernel="auto", deleted=None, count=False):
        """Run this query over ONE shard. rows: {term_id: posting row dict}
        for (at least) this query's terms present in the shard."""
        avgdl, k1, b = stats["avgdl"], stats["k1"], stats["b"]
        plists = [
            kernels.TermPostings(rows[tid], idf=idf, avgdl=avgdl, k1=k1, b=b)
            if tid in rows else None
            for tid, idf in self.slots
        ]
        return kernels.run_shard(
            self.mode, plists, self.k, kernel=kernel, deleted=deleted,
            neg=[rows[t] for t in self.neg if t in rows], after=self.after,
            min_match=self.min_match, slop=self.slop, ordered=self.ordered,
            tree=self.tree, count=count,
        )


def _opt(q: dict, name: str, default, cast):
    v = q.get(name)
    return default if _is_null(v) else cast(v)


def query_specs(
    queries: pd.DataFrame, term_info: dict[str, tuple[int, int]], stats: dict
) -> list[QuerySpec]:
    """Compile normalized rows into QuerySpecs. term_info: term → (term_id,
    df) as scored (federation passes union df); optional columns may be
    absent or hold None/NaN holes, which mean the modifier's default."""
    N = stats["N"]
    tid = {t: i for t, (i, _df) in term_info.items()}
    idf = {t: float(bm25.idf(N, df)) for t, (_i, df) in term_info.items()}
    specs = []
    for q in queries.to_dict("records"):
        mode = q["mode"]
        tree = None
        if mode == "BOOL":
            tree = booltree.resolve_tids(q["tree"], tid)
            slots = [(tid[t], idf[t]) for t in q["terms"] if t in tid]
        else:
            terms, boosts = qparse.parse_boost_terms(list(q["terms"]))
            if mode not in ("PHRASE", "NEAR"):
                terms = list(dict.fromkeys(terms))  # duplicates never double-count
            slots = [
                (tid.get(t, -1), idf.get(t, 0.0) * boosts.get(t, 1.0)) for t in terms
            ]
        a_s = q.get("after_score")
        specs.append(QuerySpec(
            query_id=int(q["query_id"]),
            mode=mode,
            k=int(q["k"]),
            slots=slots,
            neg=[tid[t] for t in dict.fromkeys(_term_list(q.get("neg_terms"))) if t in tid],
            tree=tree,
            min_match=_opt(q, "min_match", 0, int),
            slop=_opt(q, "slop", 0, int),
            ordered=_opt(q, "ordered", True, bool),
            after=None if _is_null(a_s) else (float(a_s), int(q["after_doc"])),
        ))
    return specs
