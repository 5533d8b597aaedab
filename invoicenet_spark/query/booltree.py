"""Boolean query trees: nested AND / OR / NOT composition with term,
phrase/NEAR, prefix and fuzzy leaves — the Lucene BooleanQuery analog
(the reference's per-field dispatch, invoicenet/acp/acp.py:41-49, is the
composition analog on the extraction side).

Pure module: no Spark imports. Shared by the Spark batch path (exec.py)
and the pyarrow serving path (local.py), exactly like qparse — one grammar
and ONE evaluator, so both paths are float-identical by construction.
Trees are the only query representation: query/plan.py compiles every flat
row (AND/OR/PHRASE/NEAR and the expansion modes) into one here
(flat_row_to_tree), on plain and fielded indexes alike.

Node shapes (plain dicts — JSON-serializable so the Spark path can ship a
resolved tree to executors as one string column):

  {"kind": "term",   "term": str, "boost": float=1.0, "tid": int}
  {"kind": "phrase", "terms": [str], "slop": int=0, "ordered": bool=True,
                     "boost": float=1.0, "tids": [int]}
  {"kind": "prefix", "prefix": str}            (expanded driver-side)
  {"kind": "fuzzy",  "term": str, "max_edits": int=1}   (expanded)
  {"kind": "and",    "clauses": [node, ...]}
  {"kind": "or",     "clauses": [node, ...], "min_match": int=1}
  {"kind": "not",    "positive": node, "negative": node}

Matching / scoring semantics (Lucene BooleanQuery):
  - and: doc matches iff every clause matches; score = sum of clause scores.
  - or: doc matches iff >= min_match clauses match (clause count, the
    minimumNumberShouldMatch analog); score = sum of MATCHING clause scores.
  - not: doc matches iff positive matches and negative does not; score =
    positive's score (must_not never contributes scoring).
  - term leaf: BM25 partial × boost.
  - phrase leaf: proximity is a filter; matching docs score plain BM25 over
    the phrase's distinct terms × boost (kernels.bm25_scores_at).
A leaf term absent from the dictionary (tid == -1) matches nothing — AND
branches containing it go empty, OR branches skip it.

String grammar (parse()):
  expr    := and_group ( OR and_group )*
  group   := item ( AND item )*          -- NOT item negates within the group
  item    := [NOT] primary
  primary := '(' expr ')' | '"w1 w2"' [~slop] | word[*] | word[~edits]
             | word[^boost]
  `a NOT b` == `a AND NOT b`. A group that is ONLY negative clauses is
  rejected (nothing to score — same contract as Lucene's pure-negative
  BooleanQuery). Keywords are upper-case AND/OR/NOT; everything else is a
  lower-cased term. `"a b"~3` is ordered NEAR; `"a b"~~3` is unordered.
"""

from __future__ import annotations

import json
import re

import numpy as np

from invoicenet_spark.query.qparse import check_boost, parse_boost_terms

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lpar>\() |
        (?P<rpar>\)) |
        (?P<phrase>"[^"]*"(?:~~?\d+)?(?:\^\d+(?:\.\d+)?)?) |
        (?P<word>[^\s()"]+)
    )""",
    re.VERBOSE,
)


class BoolParseError(ValueError):
    pass


def _tokenize(s: str) -> list[str]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None:
            rest = s[pos:].strip()
            if not rest:
                break
            raise BoolParseError(f"cannot tokenize query at: {rest[:40]!r}")
        pos = m.end()
        out.append(m.group(m.lastgroup))
    return out


def _leaf_from_word(w: str) -> dict:
    base, caret, suffix = w.partition("^")
    boost = check_boost(suffix, base, BoolParseError) if caret else 1.0
    if base.endswith("*") and len(base) > 1:
        if boost != 1.0:
            raise BoolParseError(f"boost not supported on prefix leaf {w!r}")
        return {"kind": "prefix", "prefix": base[:-1].lower()}
    t, tilde, edits = base.partition("~")
    if tilde:
        if boost != 1.0:
            raise BoolParseError(f"boost not supported on fuzzy leaf {w!r}")
        return {"kind": "fuzzy", "term": t.lower(), "max_edits": int(edits or 1)}
    return {"kind": "term", "term": base.lower(), "boost": boost}


def _leaf_from_phrase(tok: str) -> dict:
    m = re.fullmatch(r'"([^"]*)"(~(~)?(\d+))?(\^(\d+(?:\.\d+)?))?', tok)
    if m is None:
        raise BoolParseError(f"bad phrase token {tok!r}")
    terms = [w.lower() for w in m.group(1).split()]
    if not terms:
        raise BoolParseError("empty phrase")
    slop = int(m.group(4)) if m.group(4) else 0
    ordered = m.group(3) is None  # "a b"~~3 = unordered NEAR
    boost = float(m.group(6)) if m.group(6) else 1.0
    return {
        "kind": "phrase", "terms": terms, "slop": slop,
        "ordered": ordered, "boost": boost,
    }


class _Parser:
    def __init__(self, tokens: list[str]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expr(self) -> dict:
        clauses = [self.group()]
        while self.peek() == "OR":
            self.next()
            clauses.append(self.group())
        return clauses[0] if len(clauses) == 1 else {"kind": "or", "clauses": clauses}

    def group(self) -> dict:
        pos, neg = [], []
        first = True
        while True:
            negate = False
            if self.peek() == "NOT":
                self.next()
                negate = True
            elif not first:
                if self.peek() == "AND":
                    self.next()
                    if self.peek() == "NOT":
                        self.next()
                        negate = True
                else:
                    break
            node = self.primary()
            (neg if negate else pos).append(node)
            first = False
            if self.peek() not in ("AND", "NOT"):
                break
        if not pos:
            raise BoolParseError(
                "pure-negative group: NOT needs a positive clause to score"
            )
        base = pos[0] if len(pos) == 1 else {"kind": "and", "clauses": pos}
        if neg:
            negative = neg[0] if len(neg) == 1 else {"kind": "or", "clauses": neg}
            return {"kind": "not", "positive": base, "negative": negative}
        return base

    def primary(self) -> dict:
        t = self.next()
        if t is None:
            raise BoolParseError("unexpected end of query")
        if t == "(":
            node = self.expr()
            if self.next() != ")":
                raise BoolParseError("missing closing parenthesis")
            return node
        if t in (")", "AND", "OR", "NOT"):
            raise BoolParseError(f"unexpected token {t!r}")
        if t.startswith('"'):
            return _leaf_from_phrase(t)
        return _leaf_from_word(t)


def parse(s: str) -> dict:
    """Parse the string grammar into a tree. Raises BoolParseError."""
    p = _Parser(_tokenize(s))
    node = p.expr()
    if p.peek() is not None:
        raise BoolParseError(f"trailing tokens at {p.peek()!r}")
    return node


# ------------------------------------------------------------- tree helpers --
def positive_leaf_terms(node: dict) -> set[str]:
    """Leaf terms a MATCHING doc can actually contain — negative subtrees
    excluded (a must_not term never appears in a result doc) and field
    prefixes stripped (the doc's text holds the bare token). This is the
    highlight-term set snippets use for BOOL queries. prefix/fuzzy leaves
    contribute their base string (best-effort when unexpanded)."""
    k = node["kind"]
    if k == "term":
        return {node["term"].partition(":")[2] or node["term"]}
    if k == "phrase":
        return {t.partition(":")[2] or t for t in node["terms"]}
    if k == "prefix":
        return {node["prefix"]}
    if k == "fuzzy":
        return {node["term"]}
    if k in ("and", "or"):
        out: set[str] = set()
        for c in node["clauses"]:
            out |= positive_leaf_terms(c)
        return out
    if k == "not":
        return positive_leaf_terms(node["positive"])
    return set()


def highlight_terms_for_row(row) -> list[str]:
    """Terms to highlight for one query row (any mode): BOOL rows parse
    their query (plan.bool_source) and keep only positive leaves; flat rows
    keep their term list (boost suffixes handled by the snippet
    highlighter)."""
    if row["mode"] != "BOOL":
        return list(row["terms"])
    from invoicenet_spark.query.plan import bool_source

    return sorted(positive_leaf_terms(as_tree(bool_source(row))))


def as_tree(raw) -> dict:
    """A query tree from a tree dict, its JSON string, or the string
    grammar."""
    if isinstance(raw, str):
        s = raw.strip()
        return json.loads(s) if s.startswith("{") else parse(s)
    return raw


def with_negations(tree: dict, negs) -> dict:
    """`tree` minus the docs containing any of `negs` (Lucene must_not) —
    a `not` wrapper over an OR of term leaves; `tree` itself when negs is
    empty."""
    nl = [{"kind": "term", "term": t, "boost": 1.0} for t in dict.fromkeys(negs)]
    if not nl:
        return tree
    negative = nl[0] if len(nl) == 1 else {"kind": "or", "clauses": nl}
    return {"kind": "not", "positive": tree, "negative": negative}


def _children(node: dict):
    k = node["kind"]
    if k in ("and", "or"):
        return node["clauses"]
    if k == "not":
        return [node["positive"], node["negative"]]
    return []


def leaf_terms(node: dict) -> set[str]:
    """All term strings the tree needs postings for (incl. negative sides
    and phrase slots). prefix/fuzzy leaves must be expanded first."""
    k = node["kind"]
    if k == "term":
        return {node["term"]}
    if k == "phrase":
        return set(node["terms"])
    if k in ("prefix", "fuzzy"):
        raise ValueError(f"unexpanded {k} leaf — call expand_leaves first")
    out: set[str] = set()
    for c in _children(node):
        out |= leaf_terms(c)
    return out


def has_positional(node: dict) -> bool:
    if node["kind"] == "phrase":
        return True
    return any(has_positional(c) for c in _children(node))


def expand_leaves(node: dict, expand_prefix, expand_fuzzy) -> dict:
    """Rewrite prefix/fuzzy leaves into OR-of-term-leaves using the caller's
    dictionary expanders (plan.Dictionary.expand_prefixes / expand_fuzzy;
    the TooManyClauses cap lives in those). An expansion with no dictionary
    match becomes a term leaf that matches nothing (tid -1 downstream)."""
    k = node["kind"]
    if k == "prefix":
        terms = expand_prefix([node["prefix"]])
        if not terms:
            return {"kind": "term", "term": node["prefix"], "boost": 1.0}
        leaves = [{"kind": "term", "term": t, "boost": 1.0} for t in terms]
        return leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves}
    if k == "fuzzy":
        terms = expand_fuzzy([node["term"]], int(node.get("max_edits", 1)))
        if not terms:
            return {"kind": "term", "term": node["term"], "boost": 1.0}
        leaves = [{"kind": "term", "term": t, "boost": 1.0} for t in terms]
        return leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves}
    if k in ("and", "or"):
        return {**node, "clauses": [
            expand_leaves(c, expand_prefix, expand_fuzzy) for c in node["clauses"]
        ]}
    if k == "not":
        return {
            **node,
            "positive": expand_leaves(node["positive"], expand_prefix, expand_fuzzy),
            "negative": expand_leaves(node["negative"], expand_prefix, expand_fuzzy),
        }
    return node


def resolve_tids(node: dict, term_to_tid: dict[str, int]) -> dict:
    """Annotate term/phrase leaves with dictionary term_ids (-1 = absent =
    matches nothing). Returns a new tree; input is not mutated."""
    k = node["kind"]
    if k == "term":
        return {**node, "tid": int(term_to_tid.get(node["term"], -1))}
    if k == "phrase":
        return {**node, "tids": [int(term_to_tid.get(t, -1)) for t in node["terms"]]}
    if k in ("and", "or"):
        return {**node, "clauses": [resolve_tids(c, term_to_tid) for c in node["clauses"]]}
    if k == "not":
        return {
            **node,
            "positive": resolve_tids(node["positive"], term_to_tid),
            "negative": resolve_tids(node["negative"], term_to_tid),
        }
    raise ValueError(f"unexpanded {k} leaf — call expand_leaves first")


def normalize_query(
    tree_or_string,
    expand_prefix,
    expand_fuzzy,
    field_stats: dict | None = None,
) -> dict:
    """One driver-side entry for both paths: accept an already-analyzed
    tree dict, a JSON string of one, or the string grammar (query/plan.py
    runs the index's token-filter chain over user-written leaves first);
    on a fielded index, qualify bare leaves across all fields BEFORE
    dictionary expansion (prefix/fuzzy then expand against the
    field-qualified keys); expand prefix/fuzzy leaves."""
    t = as_tree(tree_or_string)
    if field_stats:
        t = qualify_bare_leaves(t, field_stats)
        _reject_cross_field_phrases(t, field_stats)
    return expand_leaves(t, expand_prefix, expand_fuzzy)


def analyze_tree_leaves(
    node: dict, stopwords: tuple, stem: str | None, field_stats: dict
) -> dict | None:
    """The index's analyzer chain over a query tree's USER-WRITTEN leaves —
    the Lucene QueryParser-with-analyzer behavior:

      - term leaves: stopword terms ELIDE (the clause disappears, exactly
        StopFilter-at-analysis: `the AND spark` means `spark`), survivors
        stem; an explicit `field:` prefix is preserved and the chain runs
        on the token part.
      - phrase leaves: stopword SLOTS drop (index positions renumber after
        stop removal, so `"president of the usa"` matches the indexed
        `president usa` adjacency), survivors stem; an all-stopword phrase
        elides.
      - prefix/fuzzy leaves: never analyzed (Lucene multi-term convention;
        their expansions are dictionary terms, already chain-normalized).

    Returns None when the node elides entirely: AND/OR drop elided clauses
    (min_match is NOT reduced — the ES behavior), NOT loses an elided
    negative and elides with its positive."""
    from invoicenet_spark.functions.analyzer import analyze_terms

    def _split(t: str) -> tuple[str, str]:
        f = t.partition(":")[0]
        if ":" in t and f in field_stats:
            return f + ":", t[len(f) + 1:]
        return "", t

    k = node["kind"]
    if k == "term":
        pfx, tok = _split(node["term"])
        out = analyze_terms([tok], stopwords, stem)
        if not out:
            return None
        return {**node, "term": pfx + out[0]}
    if k == "phrase":
        slots = []
        for t in node["terms"]:
            pfx, tok = _split(t)
            out = analyze_terms([tok], stopwords, stem)
            if out:
                slots.append(pfx + out[0])
        if not slots:
            return None
        return {**node, "terms": slots}
    if k in ("prefix", "fuzzy"):
        return node
    if k in ("and", "or"):
        clauses = [
            c2
            for c in node["clauses"]
            if (c2 := analyze_tree_leaves(c, stopwords, stem, field_stats))
            is not None
        ]
        if not clauses:
            return None
        return {**node, "clauses": clauses}
    if k == "not":
        pos = analyze_tree_leaves(node["positive"], stopwords, stem, field_stats)
        if pos is None:
            return None
        neg = analyze_tree_leaves(node["negative"], stopwords, stem, field_stats)
        if neg is None:
            return pos
        return {**node, "positive": pos, "negative": neg}
    raise ValueError(f"unknown node kind {k!r}")


def _reject_cross_field_phrases(node: dict, field_stats: dict) -> None:
    """Disallow a phrase whose qualified slots span more than one field
    (Lucene rejects cross-field phrases too): per-field token ordinals all
    start at 0, so positions from different fields are incomparable and a
    mixed phrase like '"title:a body:b"' could false-match whenever the two
    fields' ordinals happen to be adjacent."""
    k = node["kind"]
    if k == "phrase":
        fields = {
            t.partition(":")[0] if ":" in t and t.partition(":")[0] in field_stats else ""
            for t in node["terms"]
        }
        if len(fields) > 1:
            raise ValueError(
                "phrase spans multiple fields (per-field positions are "
                f"incomparable): {node['terms']!r}"
            )
    elif k in ("and", "or"):
        for c in node["clauses"]:
            _reject_cross_field_phrases(c, field_stats)
    elif k == "not":
        _reject_cross_field_phrases(node["positive"], field_stats)
        _reject_cross_field_phrases(node["negative"], field_stats)


def qualify_bare_leaves(node: dict, field_stats: dict) -> dict:
    """Fielded-index default (the Lucene MultiFieldQueryParser behavior): a
    leaf WITHOUT a known field prefix expands to an OR over every field at
    weight 1 — `spark` on a ('title','body') index means
    `title:spark OR body:spark`, a bare phrase becomes an OR of per-field
    phrase copies (a phrase never spans fields), and bare prefix/fuzzy
    leaves become per-field leaves so dictionary expansion matches the
    field-qualified keys. Explicitly qualified leaves pass through; a
    phrase mixing qualified and bare slots (or qualified slots from two
    different fields) is rejected downstream by normalize_query —
    per-field positions are incomparable, so a cross-field phrase has no
    sound match semantics (Lucene disallows it too)."""
    k = node["kind"]

    def _bare(term: str) -> bool:
        # Qualified means an ACTUAL `field:` prefix — without the colon
        # check, the bare query word `body` on a ('title','body') index
        # would be classed as qualified, resolve to no dictionary key, and
        # silently match nothing.
        return ":" not in term or term.partition(":")[0] not in field_stats

    if k == "term":
        if not _bare(node["term"]):
            return node
        leaves = [{**node, "term": f"{f}:{node['term']}"} for f in field_stats]
        return leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves}
    if k == "phrase":
        if not all(_bare(t) for t in node["terms"]):
            return node
        copies = [
            {**node, "terms": [f"{f}:{t}" for t in node["terms"]]}
            for f in field_stats
        ]
        return copies[0] if len(copies) == 1 else {"kind": "or", "clauses": copies}
    if k == "prefix":
        if not _bare(node["prefix"]):
            return node
        leaves = [{**node, "prefix": f"{f}:{node['prefix']}"} for f in field_stats]
        return leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves}
    if k == "fuzzy":
        if not _bare(node["term"]):
            return node
        leaves = [{**node, "term": f"{f}:{node['term']}"} for f in field_stats]
        return leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves}
    if k in ("and", "or"):
        return {**node, "clauses": [qualify_bare_leaves(c, field_stats) for c in node["clauses"]]}
    if k == "not":
        return {
            **node,
            "positive": qualify_bare_leaves(node["positive"], field_stats),
            "negative": qualify_bare_leaves(node["negative"], field_stats),
        }
    return node


def _synonym_forms(term: str, synonyms: dict | None) -> list[str]:
    """A base term followed by its query-time synonyms, each form once."""
    return list(dict.fromkeys([term, *(synonyms or {}).get(term, ())]))


def _with_synonyms(raw_terms, synonyms: dict | None) -> list[str]:
    """An OR row's raw terms, each followed by its synonym forms carrying
    the term's `^boost` suffix. Nothing is deduplicated, so
    qparse.parse_boost_terms sums repeated boosts exactly as it does
    without synonyms (`spark^2 spark^2` ≡ `spark^4`)."""
    out = []
    for raw in raw_terms:
        base, sep, boost = str(raw).partition("^")
        out += [f + sep + boost for f in [base, *(synonyms or {}).get(base, ())]]
    return out


def flat_row_to_tree(row: dict, synonyms: dict | None = None) -> dict:
    """Compile one FLAT query row (a record dict: mode AND/OR/PHRASE/NEAR,
    or PREFIX/FUZZY on a fielded index, with its min_match/slop/ordered/
    max_edits modifiers) into the equivalent bare-leaf tree. plan.normalize
    runs every flat row through here on every index; on a fielded index
    the bare leaves then qualify across all fields (qualify_bare_leaves).
    neg_terms are not read: plan.normalize folds them into every tree.

    AND/OR terms go through qparse.parse_boost_terms: one leaf per distinct
    base term carrying its effective boost, so `spark^2 spark^2` ≡
    `spark^4`. A PHRASE/NEAR slot takes no `^boost`: the whole phrase
    does, in the BOOL grammar (`"a b"^2`).

    synonyms {token: [equivalents]} (the ES query-time synonym_filter
    mode; tokens are analyzer-output forms): an OR row gains each form as
    a clause with its term's boost (_with_synonyms; a doc carrying several
    forms sums them, unlike Lucene's blended SynonymQuery); an AND row's
    leaf per distinct base term becomes an OR group of its forms, so 'any
    form of every concept' matches. Other modes ignore synonyms."""
    import pandas as pd

    def _get(name, default):
        v = row.get(name)  # scalar modifier cells: None/NaN/NA mean default
        return default if v is None or pd.isna(v) else v

    mode = row["mode"]
    terms = [str(t) for t in row["terms"]]
    if mode in ("PHRASE", "NEAR"):
        for t in terms:
            if "^" in t:
                raise ValueError(
                    f"^boost on {mode} slot {t.partition('^')[0]!r}: boost the "
                    'whole phrase with the BOOL grammar instead, e.g. \'"a b"^2\''
                )
        near = mode == "NEAR"
        return {
            "kind": "phrase",
            "terms": terms,
            "slop": int(_get("slop", 0)) if near else 0,
            "ordered": bool(_get("ordered", True)) if near else True,
            "boost": 1.0,
        }
    if mode == "PREFIX":
        leaves = [
            {"kind": "prefix", "prefix": t.partition("^")[0]} for t in dict.fromkeys(terms)
        ]
    elif mode == "FUZZY":
        e = int(_get("max_edits", 1))
        leaves = [
            {"kind": "fuzzy", "term": t.partition("^")[0], "max_edits": e}
            for t in dict.fromkeys(terms)
        ]
    else:
        base, boosts = parse_boost_terms(
            _with_synonyms(terms, synonyms) if mode == "OR" else terms
        )
        leaves = []
        for t in dict.fromkeys(base):
            forms = [
                {"kind": "term", "term": f, "boost": boosts.get(t, 1.0)}
                for f in _synonym_forms(t, synonyms if mode == "AND" else None)
            ]
            leaves.append(
                forms[0] if len(forms) == 1
                else {"kind": "or", "clauses": forms, "min_match": 0}
            )
    mm = 0 if mode == "AND" else int(_get("min_match", 0))
    if len(leaves) == 1 and mm <= 1:
        return leaves[0]
    if mode == "AND" and leaves:
        return {"kind": "and", "clauses": leaves}
    node = {"kind": "or", "clauses": leaves}  # no leaves: matches nothing
    if mm > 1:
        node["min_match"] = mm
    return node


# ------------------------------------------------------------------ fielded --
def attach_field_stats(node: dict, field_stats: dict) -> dict:
    """Give field-qualified leaves their field's BM25 normalization: a term
    leaf `title:foo` (or a phrase whose every slot shares one field prefix)
    gets `avgdl` = that field's average length from stats.json["fields"].
    Leaves without a known field prefix keep the index-global avgdl.
    Explicit `avgdl` on a leaf is never overwritten."""
    if not field_stats:
        return node
    k = node["kind"]
    if k == "term":
        if "avgdl" not in node:
            f = node["term"].partition(":")[0]
            if f in field_stats and ":" in node["term"]:
                return {**node, "avgdl": float(field_stats[f]["avgdl"])}
        return node
    if k == "phrase":
        if "avgdl" not in node:
            prefixes = {t.partition(":")[0] for t in node["terms"] if ":" in t}
            if len(prefixes) == 1 and all(":" in t for t in node["terms"]):
                f = next(iter(prefixes))
                if f in field_stats:
                    return {**node, "avgdl": float(field_stats[f]["avgdl"])}
        return node
    if k in ("and", "or"):
        return {**node, "clauses": [attach_field_stats(c, field_stats) for c in node["clauses"]]}
    if k == "not":
        return {
            **node,
            "positive": attach_field_stats(node["positive"], field_stats),
            "negative": attach_field_stats(node["negative"], field_stats),
        }
    return node


def fielded_tree(
    terms: list[str],
    mode: str,
    field_weights: dict[str, float],
    field_stats: dict,
    min_match: int = 0,
    synonyms: dict | None = None,
) -> dict:
    """BM25F-lite rewrite: a flat OR/AND query plus {field: weight} becomes
    a boolean tree of field-qualified leaves —

      OR :  or( per-term group, ... )[min_match over base terms]
      AND:  and( per-term group, ... )

    where each per-term group = or(`field:term`^weight per field). A doc's
    score is the weighted sum of its per-field BM25 partials (weight scales
    idf; dl/avgdl are the FIELD's), and AND requires every base term in at
    least one field — Lucene BooleanQuery-over-fields semantics. A
    `term^boost` multiplies its leaves' weights; duplicate terms sum their
    boosts (qparse.parse_boost_terms), as on every flat row.

    synonyms {token: [equivalents]} follow flat_row_to_tree's rule: an OR
    row gains each form as a clause with its term's boost (_with_synonyms),
    and an AND row's per-term group expands to the union of its forms'
    field leaves — 'any form of the concept in any field'."""
    field_weights = {f: check_boost(w, f) for f, w in field_weights.items()}
    unknown = [f for f in field_weights if f not in field_stats]
    if unknown:
        raise ValueError(
            f"unknown fields {unknown!r} — index has {sorted(field_stats)}"
        )
    if mode == "OR":
        terms, synonyms = _with_synonyms(terms, synonyms), None
    base, boosts = parse_boost_terms(terms)
    groups = []
    for t in dict.fromkeys(base):
        leaves = [
            {
                "kind": "term",
                "term": f"{f}:{form}",
                "boost": w * boosts.get(t, 1.0),
                "avgdl": float(field_stats[f]["avgdl"]),
            }
            for form in _synonym_forms(t, synonyms)
            for f, w in field_weights.items()
        ]
        groups.append(leaves[0] if len(leaves) == 1 else {"kind": "or", "clauses": leaves})
    if mode == "AND":
        return groups[0] if len(groups) == 1 else {"kind": "and", "clauses": groups}
    node = {"kind": "or", "clauses": groups}
    if min_match and min_match > 1:
        node["min_match"] = int(min_match)
    return node if len(groups) != 1 or "min_match" in node else groups[0]


# ---------------------------------------------------------------- evaluation --
_EMPTY = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))


def evaluate_shard(tree: dict, by_tid: dict) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate a resolved tree against ONE shard's postings.

    by_tid: {term_id: TermPostings} for every leaf tid present in the shard
    (absent = term has no postings here); decodes go to the views' shared
    posting lists (kernels.PostingList), so nothing is decoded twice. Returns the FULL (docs, scores)
    match list sorted by doc — top-k, pagination cursors and tombstone
    masking are applied by the caller at the root. Correct per shard
    because a doc lives in exactly one shard, so every set operation is
    shard-local.

    Scale shape: pure sorted-array algebra (searchsorted / unique / add.at),
    no per-doc Python; work is O(sum of leaf posting lengths) per shard —
    this walk is the exhaustive path. Top-k callers should enter through
    evaluate_shard_topk, which routes disjunctions (every bare/fielded OR
    rewrite, and ORs mixing terms with other clauses) to the block-max
    MaxScore kernel, AND-of-groups to the conjunctive block-probe kernel
    and min_match to its pigeonhole mode — falling back here only to
    materialize individual non-flat subtrees (phrases, NOT negatives,
    nested min_match) whose cost their own semantics bound.
    Counting callers use this walk directly — a count touches every match
    by definition.
    """
    from invoicenet_spark.query import kernels

    partial_cache: dict[int, tuple] = {}

    def decoded(tid: int):
        tp = by_tid.get(tid)
        return None if tp is None else tp.decode_all()

    def term_partial(tid: int, avgdl: float | None):
        """Base (docs, bm25_partial) for one (term, normalization) — leaf
        boosts scale a copy. avgdl: per-leaf override (fielded leaves use
        their FIELD's average length)."""
        key = (tid, avgdl)
        if key not in partial_cache:
            dec = decoded(tid)
            if dec is None:
                partial_cache[key] = _EMPTY
            else:
                from invoicenet_spark.index import bm25

                tp = by_tid[tid]
                docs, tfs, dls = dec
                s = tp.idf * bm25.tf_score(
                    tfs, dls, avgdl if avgdl is not None else tp.avgdl, tp.k1, tp.b
                )
                partial_cache[key] = (docs, s)
        return partial_cache[key]

    def ev(node: dict) -> tuple[np.ndarray, np.ndarray]:
        k = node["kind"]
        if k == "term":
            tid = int(node.get("tid", -1))
            if tid < 0 or tid not in by_tid:
                return _EMPTY
            avgdl = node.get("avgdl")
            docs, s = term_partial(tid, float(avgdl) if avgdl is not None else None)
            boost = float(node.get("boost", 1.0))
            return (docs, s * boost if boost != 1.0 else s.copy())
        if k == "phrase":
            tids = node.get("tids", [])
            if any(t < 0 or t not in by_tid for t in tids) or not tids:
                return _EMPTY
            plists = [by_tid[t] for t in tids]
            dec = [decoded(t) for t in tids]
            if len(tids) == 1:
                match = dec[0][0]
            elif node.get("ordered", True) and int(node.get("slop", 0)) == 0:
                match = kernels.phrase_matches(plists, dec)
            else:
                match = kernels.near_matches(
                    plists, dec, int(node.get("slop", 0)),
                    ordered=bool(node.get("ordered", True)),
                )
            if match.size == 0:
                return _EMPTY
            avgdl = node.get("avgdl")
            s = kernels.bm25_scores_at(
                plists, dec, match,
                avgdl_override=float(avgdl) if avgdl is not None else None,
            )
            boost = float(node.get("boost", 1.0))
            return (match, s * boost if boost != 1.0 else s)
        if k == "and":
            if not node["clauses"]:
                return _EMPTY
            parts = [ev(c) for c in node["clauses"]]
            docs = kernels.gallop_intersect([d for d, _ in parts])
            if docs.size == 0:
                return _EMPTY
            agg = np.zeros(docs.size, dtype=np.float64)
            for d, s in parts:  # clause order = deterministic float order
                agg += s[np.searchsorted(d, docs)]
            return docs, agg
        if k == "or":
            parts = [ev(c) for c in node["clauses"]]
            parts = [p for p in parts if p[0].size]
            if not parts:
                return _EMPTY
            docs_cat = np.concatenate([d for d, _ in parts])
            scores_cat = np.concatenate([s for _, s in parts])
            uniq, inv = np.unique(docs_cat, return_inverse=True)
            agg = np.zeros(uniq.size, dtype=np.float64)
            np.add.at(agg, inv, scores_cat)
            mm = int(node.get("min_match", 1))
            if mm > 1:
                cnt = np.bincount(inv, minlength=uniq.size)
                hit = cnt >= mm
                uniq, agg = uniq[hit], agg[hit]
            return uniq, agg
        if k == "not":
            pd_, ps = ev(node["positive"])
            if pd_.size == 0:
                return _EMPTY
            nd, _ = ev(node["negative"])
            keep = kernels.drop_deleted(pd_, nd if nd.size else None)
            return pd_[keep], ps[keep]
        raise ValueError(f"unknown node kind {k!r}")

    return ev(tree)


def _leaf_key(node: dict) -> tuple[int, float, float | None]:
    """(tid, boost, avgdl|None) of a resolved term leaf."""
    avgdl = node.get("avgdl")
    return (
        int(node.get("tid", -1)),
        float(node.get("boost", 1.0)),
        float(avgdl) if avgdl is not None else None,
    )


def flatten_or_terms(tree: dict) -> list[tuple[int, float, float | None]] | None:
    """If the tree is a PURE DISJUNCTION of term leaves — arbitrary OR
    nesting, min_match ≤ 1 at every OR node, no phrase/and/not nodes —
    return its leaves as (tid, boost, avgdl|None) in DFS order, else None.

    The group flattener: each clause of an AND, of a min_match OR, or of an
    AND inside a disjunction ('andg' parts of flatten_or_mixed) that
    flattens here becomes one disjunction group of score_and_groups — the
    fielded rewrite's per-term OR-of-field-leaves is exactly this shape."""
    out: list[tuple[int, float, float | None]] = []

    def walk(node: dict) -> bool:
        kd = node["kind"]
        if kd == "term":
            out.append(_leaf_key(node))
            return True
        if kd == "or":
            mm = node.get("min_match", 1)
            if int(mm if mm is not None else 1) > 1:
                return False
            return all(walk(c) for c in node["clauses"])
        return False

    return out if walk(tree) and out else None


def flatten_or_mixed(tree: dict) -> list | None:
    """The disjunction flattener top-k routing uses. When the tree is a
    bare term leaf or OR-nested (min_match ≤ 1 at every walked OR) returns
    DFS-ordered parts:

      ('term', (tid, boost, avgdl|None))  — a term leaf (keeps MaxScore
                                            pruning in score_blockmax)
      ('andg', [group_leaves, ...])       — an AND subtree whose clauses
                                            all flatten via
                                            flatten_or_terms: materializes
                                            via the block-probed
                                            score_and_groups full-matches
                                            mode (its stopword clauses are
                                            never fully decoded)
      ('sub', node)                       — any other subtree (phrase/NEAR
                                            leaf, NOT, nested min_match>1
                                            OR, non-flat AND): materializes
                                            via the walk, bounded by its
                                            own semantics

    A pure-term disjunction gives all-'term' parts in flatten_or_terms'
    order, so its floats are score_exhaustive's over those leaves. Returns
    None when the root is neither a term nor a plain disjunction (root
    min_match > 1 belongs to the pigeonhole min_match routing) or has no
    clauses."""
    if tree["kind"] == "term":
        return [("term", _leaf_key(tree))]
    if tree["kind"] != "or" or int(tree.get("min_match") or 1) > 1:
        return None
    out: list = []

    def walk(node: dict) -> None:
        kd = node["kind"]
        if kd == "term":
            out.append(("term", _leaf_key(node)))
            return
        if kd == "or" and int(node.get("min_match") or 1) <= 1:
            for c in node["clauses"]:
                walk(c)
            return
        if kd == "and":
            flat = [flatten_or_terms(c) for c in node["clauses"]]
            if node["clauses"] and all(g is not None for g in flat):
                out.append(("andg", flat))
            else:
                out.append(("sub", node))
            return
        # phrase / not / min_match>1 OR / anything else: walk-materialized
        out.append(("sub", node))

    for c in tree["clauses"]:
        walk(c)
    return out or None


def evaluate_shard_topk(
    tree: dict,
    by_tid: dict,
    k: int,
    deleted=None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k evaluation of a resolved tree over ONE shard — the one
    per-(query, shard) router both query paths share through
    plan.run_shard_batch (identical floats across Spark and serving by
    construction). Every flat row arrives here as its compiled tree: flat
    OR → MaxScore, flat AND and min_match → score_and_groups, PHRASE/NEAR
    → the walk's phrase leaf, neg_terms → the NOT mask.

    Disjunctions (flatten_or_mixed) route to block-max MaxScore
    (kernels.score_blockmax), cursored pages included: each term leaf
    becomes a posting view whose idf is scaled by the leaf boost and whose
    length normalization uses the leaf's field avgdl, so the kernel's
    per-block upper bounds remain valid bounds on the leaf's true
    contribution (boost is linear in the score; the bound and the score
    use the same avgdl). Non-term clauses pre-evaluate into materialized
    (docs, scores) pseudo lists with exact upper bounds — AND-of-flat-
    groups via the block-probed conjunction kernel (their stopword clauses
    are skipped, not decoded), phrases/NOT/nested min_match via the walk.
    Rank-identity is the score_blockmax contract (fuzz-pinned, incl. the
    tree fuzz in tests/test_booltree_pruned.py); its floats may differ
    from the nested tree walk in the last ulp (boost folded into idf, flat
    vs nested accumulation), which the rounded oracle contract absorbs.

    NOT folds its negative into the deleted mask; AND-of-groups and
    min_match ORs over flattenable clauses take score_and_groups. Anything
    else takes the exhaustive tree walk with root-level masking, cursor
    and top-k, exactly the round-4 semantics."""
    from invoicenet_spark.query import kernels

    def _resolve(leaves):
        """Each present leaf's view over its term's shared posting list."""
        plists = []
        for tid, boost, avgdl in leaves:
            tp0 = by_tid.get(tid)
            if tid < 0 or tp0 is None:
                continue
            plists.append(
                kernels.TermPostings(
                    tp0.postings,
                    idf=tp0.idf * boost,
                    avgdl=avgdl if avgdl is not None else tp0.avgdl,
                    k1=tp0.k1,
                    b=tp0.b,
                )
            )
        return plists

    mixed = flatten_or_mixed(tree)
    if mixed is not None:
        parts = []
        for kind, payload in mixed:
            if kind == "term":
                parts += _resolve([payload])
                continue
            if kind == "andg":
                groups = [_resolve(g) for g in payload]
                if any(not g for g in groups):
                    continue  # a leafless group: the AND matches nothing
                d, s = kernels.score_and_groups(groups, 0, full_matches=True)
            else:
                d, s = evaluate_shard(payload, by_tid)
            if d.size:
                parts.append((d, s))
        if not parts:
            return _EMPTY
        return kernels.score_blockmax(parts, k, deleted=deleted, after=after)
    if tree["kind"] == "not":
        # NOT is an exclusion mask over the positive subtree — the exact
        # mechanism tombstones already use — so fold the negative's match
        # docs into `deleted` and recurse: the positive keeps whatever
        # pruned routing its shape earns (a fielded drop-in query with
        # neg_terms rewrites to not(or(field leaves), …) and would
        # otherwise fall back to the exhaustive walk).
        nd, _ = evaluate_shard(tree["negative"], by_tid)
        merged = (
            deleted
            if nd.size == 0
            else (nd if deleted is None else np.union1d(deleted, nd))
        )
        return evaluate_shard_topk(
            tree["positive"], by_tid, k, deleted=merged, after=after
        )
    if tree["kind"] == "and":
        # conjunction of disjunction-groups (the fielded AND rewrite):
        # exact structural pruning — candidates seed from the smallest
        # group, the stopword-side groups are block-probed, every match is
        # scored, so cursors compose (kernels.score_and_groups). Exact by
        # construction (no theta).
        flat_groups = [flatten_or_terms(c) for c in tree["clauses"]]
        if tree["clauses"] and all(g is not None for g in flat_groups):
            groups = [_resolve(g) for g in flat_groups]
            if any(not g for g in groups):
                return _EMPTY  # a group with no present leaves matches nothing
            return kernels.score_and_groups(groups, k, deleted=deleted, after=after)
    if tree["kind"] == "or" and int(tree.get("min_match") or 1) > 1:
        # min_match OR over flattenable clauses: the same pigeonhole
        # structural pruning (kernels.score_and_groups min_groups) — a doc
        # must match >= m CLAUSES, so clauses become groups; clauses with
        # no present leaves are dropped (they can never count toward m)
        flat_groups = [flatten_or_terms(c) for c in tree["clauses"]]
        if tree["clauses"] and all(g is not None for g in flat_groups):
            groups = [g for g in (_resolve(fg) for fg in flat_groups) if g]
            return kernels.score_and_groups(
                groups, k, deleted=deleted, after=after,
                min_groups=int(tree["min_match"]),
            )
    docs, scores = evaluate_shard(tree, by_tid)
    live = kernels.drop_deleted(docs, deleted)
    docs, scores = kernels.apply_after(docs[live], scores[live], after)
    return kernels.topk_select(docs, scores, k)
