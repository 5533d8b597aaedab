"""Tokenizer / analyzer — all JVM-side built-in expressions.

Semantics pinned by the reference (SURVEY.md §2.3, §2.5):
  - lowercase match semantics (invoicenet/gui/viewer.py:211)
  - drop empty tokens (invoicenet/common/util.py:105)
  - split on non-alphanumeric runs

Staying in `pyspark.sql.functions` keeps tokenization inside whole-stage
codegen — the hot path of index construction never crosses into Python.
The DuckDB-oracle equivalent (same semantics) is:

    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                       t -> t <> ''))
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = "[^a-z0-9]+"


def tokens_col(text_col: str | Column = "text", pattern: str = TOKEN_PATTERN) -> Column:
    """array<string> of non-empty lowercase tokens, in reading order (K3)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(col), pattern), lambda t: t != F.lit(""))


# --------------------------------------------------------------- analysis --
# Optional token-filter chain after tokenization (Lucene analyzer analog):
# stop-word removal (StopFilter) then minimal English stemming. BOTH sides
# of the engine must run the same chain — the index build reads it from
# EngineConfig, queries read it back from stats.json — so the column
# expression here and analyze_terms() below are twins (fuzz-pinned
# identical). Positions renumber after stop removal (no gaps): a phrase
# matches across removed stopwords, the stop-analyzer behavior in ES when
# position increments are not preserved.


def s_stem_conds(t: Column) -> Column:
    """Harman S-stemmer (the EnglishMinimalStemFilter family): one rule per
    word, first match wins, words of length <= 3 untouched.

      1. -ies (unless -eies/-aies)  → -y       queries → query
      2. -es  (unless -aes/-ees/-oes) → -e     tables  → table
      3. -s   (unless -us/-ss)      → drop     windows → window

    The LONGEST matching suffix owns the word: an exception means
    'unchanged', never fall-through to a shorter rule ('goes' stays
    'goes' — it is owned by the -es rule whose -oes exception protects
    it, not re-tested by the bare -s rule). Suffix tests only (no
    lookbehind) so the DuckDB oracle (RE2, no lookbehind) states the
    identical conditions."""
    ln = F.length(t)
    return (
        F.when(
            (ln > 3) & t.endswith("ies"),
            F.when(t.endswith("eies") | t.endswith("aies"), t).otherwise(
                F.concat(F.substring(t, F.lit(1), ln - 3), F.lit("y"))
            ),
        )
        .when(
            (ln > 3) & t.endswith("es"),
            F.when(
                t.endswith("aes") | t.endswith("ees") | t.endswith("oes"), t
            ).otherwise(F.substring(t, F.lit(1), ln - 1)),
        )
        .when(
            (ln > 3) & t.endswith("s"),
            F.when(t.endswith("us") | t.endswith("ss"), t).otherwise(
                F.substring(t, F.lit(1), ln - 1)
            ),
        )
        .otherwise(t)
    )


def analyze_col(
    text_col: str | Column = "text",
    pattern: str = TOKEN_PATTERN,
    stopwords: tuple[str, ...] = (),
    stem: str | None = None,
) -> Column:
    """tokens_col + the configured filter chain, still 100% JVM expressions.

    Order matches Lucene's english analyzer: stopwords are tested on the
    SURFACE form (before stemming), then survivors stem — so a stopword
    list never needs stemmed variants, and stemming can't create a
    stopword hit ("was" stays removable, "windows"→"window" stays)."""
    toks = tokens_col(text_col, pattern)
    if stopwords:
        sw = F.array(*[F.lit(s) for s in stopwords])
        toks = F.filter(toks, lambda t: ~F.array_contains(sw, t))
    if stem == "s_stem":
        toks = F.transform(toks, s_stem_conds)
    elif stem:
        raise ValueError(f"unknown stemmer {stem!r} (supported: 's_stem')")
    return toks


def s_stem_py(t: str) -> str:
    """Python twin of s_stem_conds (query-side terms are driver-side):
    longest matching suffix owns the word, exceptions mean unchanged."""
    if len(t) > 3:
        if t.endswith("ies"):
            return t if t.endswith(("eies", "aies")) else t[:-3] + "y"
        if t.endswith("es"):
            return t if t.endswith(("aes", "ees", "oes")) else t[:-1]
        if t.endswith("s"):
            return t if t.endswith(("us", "ss")) else t[:-1]
    return t


def analyze_terms(
    terms, stopwords: tuple[str, ...] = (), stem: str | None = None
) -> list[str]:
    """Apply the index's filter chain to already-tokenized query terms —
    stopword terms drop out (Lucene StopFilter on the query: 'the quick'
    queries only 'quick'), survivors stem. Boost suffixes (term^2.5)
    survive untouched. Terms are NOT lowercased/split here — they already
    follow the query contract (single analyzer tokens)."""
    sw = set(stopwords or ())
    out = []
    for raw in terms:
        t, sep, boost = str(raw).partition("^")
        if sw and t in sw:
            continue
        if stem == "s_stem":
            t = s_stem_py(t)
        out.append(t + sep + boost if sep else t)
    return out


def ngrams_col(text_col: str | Column = "text", n_max: int = 4) -> Column:
    """All 1..n_max-grams per document (reference T2: all 1..4-grams within a
    line, invoicenet/common/util.py:196). Built from the token array with
    JVM-side transform/slice — no UDF.

    Returns array<string> of space-joined n-grams (T3 join semantics,
    invoicenet/common/util.py:201).
    """
    toks = tokens_col(text_col)

    def grams_of(n: int):
        # NB: the lambda must stay 1-ary — a 2-ary lambda makes Spark bind
        # the second parameter to the array index. Guard: sequence(1, 0)
        # DESCENDS in Spark, so short docs need an explicit empty array.
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = [grams_of(n) for n in range(1, n_max + 1)]
    out = grams[0]
    for g in grams[1:]:
        out = F.concat(out, g)
    return out
