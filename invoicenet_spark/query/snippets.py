"""Snippet generation / highlighting over stored text — the Lucene
stored-fields + highlighter analog (the reference surfaces matches by
drawing boxes over the invoice image, viewer.py; a text engine's analog is
a highlighted keyword-in-context window).

Requires an index built with ``EngineConfig(store_text=True)`` (the docs
table then carries the extracted text). The highlighter is a pure function
(`make_snippet`) shared by:

- `attach_snippets_local(...)` — the serving path: texts fetched through
  the docs pyarrow dataset by doc_id, snippets computed driver-side.
- `attach_snippets(spark, ...)` — the Spark batch path: results ⋈ queries
  ⋈ docs(text), snippet computed in one Arrow-batched pandas UDF. Row
  volume is ≤ k rows per query by construction (post-top-k), so this is
  result-materialization work, not a scan.

Tokenization for highlighting re-runs the ANALYZER pattern over the stored
text, tracking character spans so the snippet is a faithful slice of the
stored text. Offsets are computed on ``text.lower()``; for the rare
strings where lowercasing changes the length (e.g. U+0130), the lowered
text is used as the display text too — token-space behavior stays exact.
"""

from __future__ import annotations

import re

import pandas as pd


def _token_spans(text: str, split_pattern: str) -> tuple[str, list[tuple[int, int, str]]]:
    """(display_text, [(start, end, token), ...]) — tokens are the runs
    BETWEEN matches of the analyzer's split pattern, exactly like
    tokens_col; empty runs drop."""
    lowered = text.lower()
    display = text if len(text) == len(lowered) else lowered
    spans = []
    prev = 0
    for m in re.finditer(split_pattern, lowered):
        if m.start() > prev:
            spans.append((prev, m.start(), lowered[prev : m.start()]))
        prev = m.end()
    if prev < len(lowered):
        spans.append((prev, len(lowered), lowered[prev:]))
    return display, spans


def make_snippet(
    text: str,
    terms: list[str],
    width: int = 30,
    tags: tuple[str, str] = ("«", "»"),
    split_pattern: str = "[^a-z0-9]+",
    normalize=None,
) -> str:
    """Best-window keyword-in-context snippet with the query terms
    highlighted.

    Deterministic: candidate windows of `width` tokens are anchored at
    max(0, hit - width//2) for every hit token; the window covering the
    most DISTINCT query terms wins, earliest on ties. The snippet is a
    character-faithful slice of the stored text with each matching token
    wrapped in `tags`, ellipsized ("…") where it is not text-initial/final.
    No-hit docs fall back to the leading `width` tokens, unhighlighted.

    normalize: optional token filter matching the index's analyzer chain
    (e.g. the S-stemmer) applied to TEXT tokens before membership, so a
    stemmed query term `window` highlights the surface form `windows` —
    the Lucene highlighter re-analyzes stored text the same way. The
    displayed slice always shows the original surface text.
    """
    termset = {t.partition("^")[0] for t in terms}
    display, raw_spans = _token_spans(text or "", split_pattern)
    if not raw_spans:
        return ""
    spans = (
        [(s, e, normalize(tok)) for s, e, tok in raw_spans]
        if normalize is not None
        else raw_spans
    )
    hits = [i for i, (_, _, tok) in enumerate(spans) if tok in termset]
    if not hits:
        ws = 0
    else:
        best = (-1, 0)  # (distinct terms, -anchor): max terms, earliest tie
        for h in hits:
            anchor = max(0, h - width // 2)
            in_win = {
                spans[i][2]
                for i in range(anchor, min(len(spans), anchor + width))
                if spans[i][2] in termset
            }
            score = (len(in_win), -anchor)
            if score > best:
                best = score
        ws = -best[1]
    we = min(len(spans), ws + width)

    open_t, close_t = tags
    out = []
    cursor = spans[ws][0]
    for s, e, tok in spans[ws:we]:
        out.append(display[cursor:s])
        if tok in termset:
            out.append(open_t + display[s:e] + close_t)
        else:
            out.append(display[s:e])
        cursor = e
    body = "".join(out)
    prefix = "… " if ws > 0 else ""
    suffix = " …" if we < len(spans) else ""
    return prefix + body + suffix


def _stored_text_pattern(stats: dict) -> str:
    return stats.get("token_pattern", "[^a-z0-9]+")


def _stats_normalizer(stats: dict):
    """Token normalizer matching the index's analyzer chain (stem only —
    stopword text tokens can't be query hits, so filtering them here would
    change nothing), or None when the index has no chain."""
    if stats.get("stem") == "s_stem":
        from invoicenet_spark.functions.analyzer import s_stem_py

        return s_stem_py
    return None


def _analyze_highlight_terms(terms: list[str], stats: dict) -> list[str]:
    """Run the index's chain over the user's highlight terms so they meet
    the (equally normalized) text tokens: stopword terms drop (they were
    never searched), survivors stem."""
    if stats.get("stopwords") or stats.get("stem"):
        from invoicenet_spark.functions.analyzer import analyze_terms

        return analyze_terms(
            terms, tuple(stats.get("stopwords") or ()), stats.get("stem")
        )
    return terms


def attach_snippets_local(
    index,
    results: pd.DataFrame,
    queries: pd.DataFrame,
    width: int = 30,
    tags: tuple[str, str] = ("«", "»"),
) -> pd.DataFrame:
    """Serving path: add a `snippet` column to search_local results.

    Texts are fetched once per call for the result set's distinct doc_ids
    through a doc_id-filtered scan of the docs pyarrow dataset. Unlike the
    urls (LocalIndex.urls_for keeps per-shard arrays in the handle's
    bounded cache), texts are not cached: stored text is too large to hold
    per handle. Each row is highlighted with ITS query's terms. Raises if
    the index was not built with store_text=True."""
    import pyarrow.dataset as ds

    from invoicenet_spark.query.local import local_index

    li = local_index(index)
    dset = li.docs_dataset()
    if "text" not in dset.schema.names:
        raise ValueError(
            "snippets need stored text — build the index with "
            "EngineConfig(store_text=True) / --store-text"
        )
    out = results.copy()
    if len(out) == 0:
        out["snippet"] = pd.Series(dtype="object")
        return out
    ids = sorted(set(int(d) for d in out["doc_id"]))
    tbl = dset.to_table(columns=["doc_id", "text"], filter=ds.field("doc_id").isin(ids))
    texts = dict(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
    from invoicenet_spark.query.booltree import highlight_terms_for_row

    # BOOL rows highlight their tree's POSITIVE leaf terms (field prefixes
    # stripped); flat rows highlight their term list as before
    terms_by_qid = {
        int(r["query_id"]): _analyze_highlight_terms(
            highlight_terms_for_row(r), li.stats
        )
        for _, r in queries.iterrows()
    }
    pat = _stored_text_pattern(li.stats)
    norm = _stats_normalizer(li.stats)
    out["snippet"] = [
        make_snippet(
            texts.get(int(d), ""), terms_by_qid.get(int(q), []), width, tags,
            pat, norm,
        )
        for q, d in zip(out["query_id"], out["doc_id"])
    ]
    return out


def attach_snippets(
    spark,
    index,
    results,
    queries: pd.DataFrame,
    width: int = 30,
    tags: tuple[str, str] = ("«", "»"),
):
    """Spark batch path: add a `snippet` column to exec.search results.

    results ⋈ broadcast(queries.terms) ⋈ docs(doc_id, text) — the docs join
    is a point-lookup-shaped equi-join on doc_id over ≤ k·n_queries rows;
    the highlighter runs as one Arrow-batched pandas UDF over those rows.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    docs = index.docs
    if "text" not in docs.columns:
        raise ValueError(
            "snippets need stored text — build the index with "
            "EngineConfig(store_text=True) / --store-text"
        )
    from invoicenet_spark.query.booltree import highlight_terms_for_row

    pat = _stored_text_pattern(index.stats)
    norm = _stats_normalizer(index.stats)
    qhl = queries[["query_id"]].copy()
    qhl["terms"] = [
        _analyze_highlight_terms(highlight_terms_for_row(r), index.stats)
        for _, r in queries.iterrows()
    ]
    qterms = spark.createDataFrame(qhl)

    @pandas_udf("string")
    def snip(text: pd.Series, terms: pd.Series) -> pd.Series:
        return pd.Series(
            [
                make_snippet(
                    t or "", [] if ts is None else list(ts), width, tags, pat,
                    norm,
                )
                for t, ts in zip(text, terms)
            ]
        )

    return (
        results.join(F.broadcast(qterms), "query_id")
        .join(docs.select("doc_id", "text"), "doc_id", "left")
        .withColumn("snippet", snip(F.col("text"), F.col("terms")))
        .drop("text", "terms")
        # the joins destroy search()'s ordering — restore it (callers print
        # results verbatim)
        .orderBy("query_id", "rank")
    )
