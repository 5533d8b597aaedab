"""Pure query-string parsing shared by the Spark batch path (exec.py) and
the Spark-free serving path (local.py) — one grammar, two consumers, no
Spark imports.
"""

from __future__ import annotations

import math
import re

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


def wildcard_to_regex(pattern: str) -> str:
    """Lucene WildcardQuery → anchored regex: `*` = any run, `?` = one
    char, everything else literal (regex metacharacters escaped)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "".join(out)
