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

Pipeline (`normalize`): the frame is read into row dicts once, and each
row compiles straight to its tree (`_row_tree`), in this order:

  analyze    the index's token-filter chain, ONCE per user-written term:
             flat terms (not PREFIX/FUZZY/WILDCARD/REGEX), neg_terms and a
             BOOL row's parsed tree (`bool_source`: a `tree` cell, else one
             query string); no later step analyzes again
  build      rows with a `fields` weight map: booltree.fielded_tree;
             plain index PREFIX/FUZZY/WILDCARD/REGEX rows: one dictionary
             expansion over the row's terms, one clause cap, then an OR
             row; every other flat row: booltree.flat_row_to_tree (a
             fielded index expands its prefix/fuzzy leaves below). Both
             builders apply the synonyms with one rule: an OR row gains
             each form as a clause, an AND row gets one OR group of forms
             per distinct base term
  negate     the row's neg_terms fold in as a `not` wrapper
             (booltree.with_negations), so bare-leaf qualification and
             dictionary lookup cover them like any other leaf
  tree       booltree.normalize_query (qualify bare leaves on a fielded
             index, expand prefix/fuzzy leaves), then attach_field_stats
  needed     every dictionary key the batch can touch

Dictionary access goes through the one `Dictionary` both index handles
(exec.Index, local.LocalIndex) inherit: it reads the index's `terms` parquet
through pyarrow on every path, so loading the hot dictionary costs no Spark
job, and its >MAX_HOT_TERMS fallbacks (a streamed term scan, a filtered
read) match with the same Python `re` dialect as the hot path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

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
    """The term dictionary over `self.paths.terms`, read through pyarrow:
    `hot_dict` (a term-indexed (term_id, df) frame, or None past
    MAX_HOT_TERMS), lookup (`term_info`) and expansion (`_expand`) over it,
    and the big-vocabulary fallbacks `_scan_terms` and `_scan_info`. A
    handle only supplies `paths`."""

    _fuzzy_vocab = None
    _terms_ds = None
    _dict = None
    _dict_too_big = False

    def _terms_dataset(self):
        if self._terms_ds is None:
            self._terms_ds = ds.dataset(self.paths.terms, format="parquet")
        return self._terms_ds

    def hot_dict(self) -> "pd.DataFrame | None":
        """The dictionary held hot when it fits (a serving node's hot
        dictionary — the common case pays NO dataset/filesystem work per
        query); above MAX_HOT_TERMS lookups stay pushed-filter parquet
        reads."""
        if self._dict is None and not self._dict_too_big:
            tds = self._terms_dataset()
            if tds.count_rows() > MAX_HOT_TERMS:  # metadata-only count
                self._dict_too_big = True
            else:
                tbl = tds.to_table(columns=["term", "term_id", "df"])
                self._dict = tbl.to_pandas().set_index("term")
        return self._dict

    def _scan_terms(self, kind, patterns, max_edits) -> set[str]:
        """Big-vocab expansion: STREAM the term column in record batches —
        never materialize a >MAX_HOT_TERMS dictionary as one padded numpy
        array (that is exactly what the hot-dictionary cap avoids)."""
        out: set[str] = set()
        for batch in self._terms_dataset().to_batches(columns=["term"]):
            col = batch.column("term")
            vocab = np.asarray(col, dtype=str) if kind == "fuzzy" else col.to_pandas()
            out |= match_terms(kind, vocab, patterns, max_edits)
        return out

    def _scan_info(self, needed) -> dict[str, tuple[int, int]]:
        tbl = self._terms_dataset().to_table(
            columns=["term", "term_id", "df"], filter=ds.field("term").isin(needed)
        )
        return dict(zip(
            tbl.column("term").to_pylist(),
            zip(tbl.column("term_id").to_pylist(), tbl.column("df").to_pylist()),
        ))

    def term_info(self, needed: set[str]) -> dict[str, tuple[int, int]]:
        """term → (term_id, df) for the requested terms present in the
        dictionary."""
        hot = self.hot_dict()
        if hot is None:
            return self._scan_info(sorted(needed)) if needed else {}
        terms = sorted(needed)
        pos = hot.index.get_indexer(terms)
        hit = pos >= 0
        pos = pos[hit]
        return dict(zip(
            [t for t, h in zip(terms, hit) if h],
            zip(hot["term_id"].to_numpy()[pos].tolist(), hot["df"].to_numpy()[pos].tolist()),
        ))

    def _expand(self, kind, patterns, max_edits, max_expansions) -> list[str]:
        """Shared expansion: hot-dictionary match or streamed term scan,
        then the clause cap (the BooleanQuery.TooManyClauses analog) and the
        deterministic lexicographic order (qparse.cap_prefix_expansion)."""
        if not patterns:
            return []
        if kind == "regex":
            # bad patterns surface as re.error before any dictionary work;
            # every path, hot or scanned, matches with this Python dialect
            [re.compile(p) for p in patterns]
        hot = self.hot_dict()
        if hot is None:
            out = self._scan_terms(kind, patterns, max_edits)
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


_EXPANSION_MODES = ("PREFIX", "FUZZY", "WILDCARD", "REGEX")


def _term_list(v) -> list[str]:
    """A list-valued optional cell (list, tuple, numpy array) as a list;
    None/NaN holes (pandas fills missing dict keys) mean empty."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [str(t) for t in v]
    return []


def bool_source(q) -> "dict | str":
    """A BOOL row's query: its `tree` cell (a dict or its JSON) wins, else
    the single query string in `terms` (the grammar). The planner and the
    snippet highlighter (booltree.highlight_terms_for_row) share this."""
    raw = q.get("tree")
    if not _is_null(raw):
        return raw
    ts = q["terms"]
    if len(ts) != 1:
        raise ValueError(
            "mode='BOOL' needs a `tree` (dict/JSON) or a single "
            "query string in `terms`"
        )
    return ts[0]


def _int_cell(q: dict, name: str, default: int) -> int:
    v = q.get(name)
    return default if _is_null(v) else int(v)


def _row_tree(d: Dictionary, q: dict, stats: dict, synonyms: dict | None) -> dict:
    """Compile one query row into its expanded tree (module docstring)."""
    field_stats = stats.get("fields") or {}
    stopwords = tuple(stats.get("stopwords") or ())
    stem = stats.get("stem")
    mode, terms = q["mode"], q["terms"]
    negs = _term_list(q.get("neg_terms"))
    if mode == "BOOL":
        tree = booltree.as_tree(bool_source(q))
    if stopwords or stem:
        from invoicenet_spark.functions.analyzer import analyze_terms

        # each user-written term is analyzed exactly once, here (a stem
        # that is itself a stopword, `ares` → `are`, would elide on a second
        # pass); an all-stopword row or tree keeps its original terms,
        # which are absent from the dictionary, so it matches nothing.
        # Expansion-mode terms are never analyzed (multi-term convention)
        if mode == "BOOL":
            tree = booltree.analyze_tree_leaves(tree, stopwords, stem, field_stats) or tree
        elif mode not in _EXPANSION_MODES:
            terms = analyze_terms(terms, stopwords, stem) or list(terms)
        negs = analyze_terms(negs, stopwords, stem)
    fields = q.get("fields")
    if isinstance(fields, dict) and fields:
        if mode not in ("OR", "AND"):
            raise ValueError(f"`fields` applies to OR/AND queries, not {mode}")
        tree = booltree.fielded_tree(
            terms, mode, fields, field_stats,
            min_match=_int_cell(q, "min_match", 0), synonyms=synonyms,
        )
    elif mode in ("WILDCARD", "REGEX") and field_stats:
        raise ValueError(
            "WILDCARD/REGEX modes are not supported on fielded indexes "
            "(v1) — query one field with an explicit field-qualified "
            "pattern via expand_regex + OR"
        )
    elif mode in _EXPANSION_MODES and not field_stats:
        # one union over the row's terms, one clause cap, then an OR row
        # (a fielded index expands prefix/fuzzy leaves in normalize_query)
        base = [str(t).partition("^")[0] for t in terms]
        if mode == "PREFIX":
            terms = d.expand_prefixes(base)
        elif mode == "FUZZY":
            terms = d.expand_fuzzy(base, _int_cell(q, "max_edits", 1))
        else:
            if mode == "WILDCARD":
                base = [qparse.wildcard_to_regex(t) for t in base]
            terms = d.expand_regex(base)
        tree = booltree.flat_row_to_tree({**q, "mode": "OR", "terms": terms})
    elif mode != "BOOL":
        tree = booltree.flat_row_to_tree({**q, "terms": terms}, synonyms)
    tree = booltree.normalize_query(
        booltree.with_negations(tree, negs),
        d.expand_prefixes, d.expand_fuzzy, field_stats=field_stats,
    )
    return booltree.attach_field_stats(tree, field_stats)


def normalize(
    d: Dictionary, queries: pd.DataFrame, stats: dict, synonyms: dict | None = None
) -> tuple[list[dict], set[str], bool]:
    """Canonicalize a pandas query batch against ONE index's dictionary
    (module docstring). Returns (rows, needed_terms, positional): rows are
    the batch's row dicts, each, whatever its mode, carrying its expanded
    tree dict in `tree` and its sorted leaf terms in `terms`; needed_terms
    is every dictionary key the batch can touch; positional says whether
    any row needs position streams. The frame is read, never written."""
    cols = list(queries.columns)
    rows = []
    for vals in zip(*(queries[c].tolist() for c in cols)):
        q = dict(zip(cols, vals))
        tree = _row_tree(d, q, stats, synonyms)
        rows.append({**q, "tree": tree, "terms": sorted(booltree.leaf_terms(tree))})
    positional = any(booltree.has_positional(q["tree"]) for q in rows)
    if positional and not stats.get("with_positions", False):
        raise ValueError(
            "PHRASE/NEAR queries (or phrase leaves in a BOOL query) require a "
            "positional index (build with EngineConfig(with_positions=True) / "
            "--with-positions)"
        )
    needed = set().union(*(q["terms"] for q in rows))
    return rows, needed, positional


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

    def run_shard(self, lists: dict, stats: dict, *, deleted=None, count=False):
        """Run this query over ONE shard. lists: {term_id:
        kernels.PostingList} for (at least) this query's terms present in
        the shard, each viewed with this query's idf; deleted: the shard's
        sorted masked doc_ids or None. Returns the shard's top-k (docs,
        scores), or its match count when count (the track_total_hits
        analog: exhaustive, no scoring, cursor ignored)."""
        avgdl, k1, b = stats["avgdl"], stats["k1"], stats["b"]
        by_tid = {
            tid: kernels.TermPostings(lists[tid], idf=idf, avgdl=avgdl, k1=k1, b=b)
            for tid, idf in self.idf.items() if tid in lists
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
    posting row dict or kernels.PostingList} for the batch's terms present
    in the shard; deleted: the shard's sorted masked doc_ids or None.
    Returns one entry per spec: its (docs, scores) (its match count when
    count), or None when none of its leaf terms occur in the shard.

    Each row dict is wrapped in ONE shared PostingList here, so every spec
    and leaf of the batch reads the same decode: a row is fully decoded at
    most once per batch whatever the number of queries sharing its term.
    The serving path passes the PostingLists its handle cache keeps
    across calls inside their row groups (local._DecodedCache, charged
    their decoded numpy bytes as well as the row groups' Arrow bytes), so
    a warm handle decodes nothing."""
    lists = {
        tid: r if isinstance(r, kernels.PostingList) else kernels.PostingList(r)
        for tid, r in rows.items()
    }
    return [
        None if s.idf.keys().isdisjoint(lists)
        else s.run_shard(lists, stats, deleted=deleted, count=count)
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
