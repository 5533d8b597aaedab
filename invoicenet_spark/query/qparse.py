"""Pure query-string parsing shared by the Spark batch path (exec.py) and
the Spark-free serving path (local.py) — one grammar, two consumers, no
Spark imports.
"""

from __future__ import annotations

import math

MAX_PREFIX_EXPANSIONS = 1024


def check_boost(value, name: str, error: type[ValueError] = ValueError) -> float:
    """A boost or field weight as a float, which must be finite and >= 0:
    MaxScore pruning is only sound when every partial score is
    non-negative. `^0` stays valid, as in Lucene."""
    try:
        boost = float(value)
    except (TypeError, ValueError) as e:
        raise error(f"bad boost {value!r} for {name!r}") from e
    if not (math.isfinite(boost) and boost >= 0):
        raise error(f"boost for {name!r} must be finite and >= 0, got {value!r}")
    return boost


def parse_boost_terms(raw_terms) -> tuple[list[str], dict[str, float]]:
    """Parse the `term^2.5` boost syntax out of a query's term list.

    Returns (base_terms, {base: effective_boost}). Effective boost follows
    Lucene's additive-clause semantics: every occurrence of a term is one
    clause, a clause's weight is its explicit boost (default 1.0), and a
    doc's score sums the clauses — so `spark^2 spark` ≡ boost 3.0 and
    `spark^2 spark^3` ≡ 5.0. Terms with no boosted occurrence stay OUT of
    the map entirely (plain duplicates keep the engine's established
    OR-dedupe semantics: one clause). '^' can never appear inside an
    analyzed token, so the syntax is unambiguous.
    """
    base_terms: list[str] = []
    explicit: dict[str, float] = {}
    plain: dict[str, int] = {}
    for t in raw_terms:
        base, _, suffix = t.partition("^")
        base_terms.append(base)
        if suffix:
            explicit[base] = explicit.get(base, 0.0) + check_boost(suffix, base)
        else:
            plain[base] = plain.get(base, 0) + 1
    bmap = {b: v + float(plain.get(b, 0)) for b, v in explicit.items()}
    return base_terms, bmap


def cap_prefix_expansion(
    matched, prefixes, max_expansions: int = MAX_PREFIX_EXPANSIONS, kind: str = "prefix"
) -> list[str]:
    """Shared tail of PREFIX expansion: enforce the clause cap (the
    BooleanQuery.TooManyClauses analog — at web-scale vocabularies an
    unbounded prefix is a dictionary scan plus an arbitrarily hot OR, so
    the cap is part of the query contract) and return the deterministic
    lexicographic expansion."""
    matched = set(matched)
    if len(matched) > max_expansions:
        remedy = {
            "fuzzy": "lower max_edits or use rarer terms",
            "regex": "narrow the pattern",
        }.get(kind, "narrow the prefix")
        raise ValueError(
            f"{kind} expansion matches more than {max_expansions} dictionary "
            f"terms ({sorted(prefixes)}); {remedy}"
        )
    return sorted(matched)


def analyze_query_rows(queries, stats: dict):
    """Apply the index's token-filter chain (stats.json {stopwords, stem})
    to FLAT query rows — the query half of the analyzer contract
    (functions/analyzer.py): stopword terms drop (StopFilter-on-query:
    `the quick` searches `quick`; phrase slots drop too, matching the
    index's renumbered positions), survivors stem, boost suffixes ride
    along. A row whose every term is a stopword keeps its ORIGINAL terms —
    they are absent from the dictionary by construction, so the row
    matches nothing (Lucene's match-no-docs for an all-stopword query).
    PREFIX/FUZZY rows are never analyzed (multi-term convention); BOOL
    rows are analyzed leaf-wise by plan.normalize's BOOL parse. neg_terms
    analyze the same way (a stopword negation excludes nothing either
    way). No-op when the index has no chain."""
    import pandas as pd

    stopwords = tuple(stats.get("stopwords") or ())
    stem = stats.get("stem")
    if not stopwords and not stem:
        return queries
    from invoicenet_spark.functions.analyzer import analyze_terms

    queries = queries.copy()
    mask = ~queries["mode"].isin(["PREFIX", "FUZZY", "BOOL", "WILDCARD", "REGEX"])
    if mask.any():
        queries.loc[mask, "terms"] = pd.Series(
            [
                analyze_terms(ts, stopwords, stem) or list(ts)
                for ts in queries.loc[mask, "terms"]
            ],
            index=queries.index[mask],
        )
    if "neg_terms" in queries.columns:
        queries["neg_terms"] = [
            analyze_terms(ts, stopwords, stem)
            if (hasattr(ts, "__len__") and not isinstance(ts, str))
            else ts
            for ts in queries["neg_terms"]
        ]
    return queries


def apply_synonyms_rows(queries, synonyms: dict | None):
    """Query-time synonym expansion (the ES query-time synonym_filter mode —
    index-time synonyms pollute df/idf, so ES recommends query-time):
    `synonyms` maps an ANALYZER-OUTPUT token to its equivalent tokens
    (callers pass post-chain forms; apply AFTER analyze_query_rows).

    - OR rows: synonyms append as extra clauses sharing the original
      term's boost (classic QueryParser SynonymFilter expansion; a doc
      carrying several forms sums them — the documented difference from
      Lucene's blended SynonymQuery).
    - AND rows: each term becomes a disjunction GROUP — the row rewrites
      to a BOOL tree AND(OR(term, syns...), ...), so 'any form of every
      concept' matches; the tree pipeline's conjunctive block-probe kernel
      and cursors apply unchanged. Boosts ride onto every group member.
    - other modes pass through untouched (phrase/expansion-mode synonyms
      are the graph-filter territory — documented unsupported v1).
    """
    if not synonyms:
        return queries
    import pandas as pd

    def _forms(raw: str) -> list[tuple[str, str]]:
        base, sep, boost = str(raw).partition("^")
        sfx = sep + boost if sep else ""
        out = [(base, sfx)]
        out += [(s, sfx) for s in synonyms.get(base, ())]
        return out

    queries = queries.copy()
    or_mask = queries["mode"] == "OR"
    if or_mask.any():
        queries.loc[or_mask, "terms"] = pd.Series(
            [
                list(dict.fromkeys(f + sfx for t in ts for f, sfx in _forms(t)))
                for ts in queries.loc[or_mask, "terms"]
            ],
            index=queries.index[or_mask],
        )
    import numpy as np

    and_mask = (queries["mode"] == "AND") & np.array(
        [
            any(str(t).partition("^")[0] in synonyms for t in ts)
            for ts in queries["terms"]
        ],
        dtype=bool,
    )
    if "fields" in queries.columns:
        # fielded AND rows are rewritten by rewrite_fielded_rows (which runs
        # after synonyms and rejects BOOL rows) — expand their synonyms at
        # the tree level there instead of flipping the mode here
        has_fields = np.array(
            [
                isinstance(fm, dict) and len(fm) > 0
                for fm in queries["fields"]
            ],
            dtype=bool,
        )
        and_mask = and_mask & ~has_fields
    if and_mask.any():
        if "tree" not in queries.columns:
            queries["tree"] = None
        for i in queries.index[and_mask]:
            groups = []
            for t in queries.at[i, "terms"]:
                leaves = [
                    {"kind": "term", "term": f,
                     "boost": float(sfx[1:]) if sfx else 1.0}
                    for f, sfx in _forms(t)
                ]
                groups.append(
                    leaves[0] if len(leaves) == 1
                    else {"kind": "or", "clauses": leaves, "min_match": 0}
                )
            # the row's neg_terms fold into the tree with every other
            # row's (plan.normalize)
            queries.at[i, "tree"] = (
                groups[0] if len(groups) == 1
                else {"kind": "and", "clauses": groups}
            )
            queries.at[i, "mode"] = "BOOL"
    return queries


def wildcard_to_regex(pattern: str) -> str:
    """Lucene WildcardQuery → anchored regex: `*` = any run, `?` = one
    char, everything else literal (regex metacharacters escaped)."""
    import re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)


def rewrite_expansion_rows(queries, mode: str, expander):
    """Shared PREFIX/FUZZY rewrite control flow for both query paths: rows
    in `mode` get terms := expander(base_terms, max_edits) and become OR.
    Boost suffixes are STRIPPED before expansion (a `^boost` on an
    expansion-mode term would otherwise be edit-distance-matched literally);
    boosts do not combine with expansion modes. max_edits defaults to 1
    per row (NaN holes included); `queries` is pandas, returned copied-on-
    write only when the mode is present."""
    import pandas as pd

    if not (queries["mode"] == mode).any():
        return queries
    queries = queries.copy()
    mask = queries["mode"] == mode
    edits = queries["max_edits"] if "max_edits" in queries.columns else None

    def _edits_for(idx) -> int:
        if edits is None:
            return 1
        v = edits.loc[idx]
        return int(v) if v is not None and not pd.isna(v) else 1

    queries.loc[mask, "terms"] = pd.Series(
        [
            expander([t.partition("^")[0] for t in ts], _edits_for(i))
            for i, ts in queries.loc[mask, "terms"].items()
        ],
        index=queries.index[mask],
    )
    queries.loc[mask, "mode"] = "OR"
    return queries
