"""Answer checks against the numpy BM25 oracle and between query paths."""

from __future__ import annotations

import pandas as pd

from invoicenet_spark.oracle.bm25_numpy import NumpyBM25Oracle

DECIMALS = 9


def oracle_for(pages: pd.DataFrame, docs: pd.DataFrame, langs=("en",)) -> NumpyBM25Oracle:
    """Oracle over the indexed pages, keyed by the engine's own doc_ids
    (read back from the index's docs table, columns url and doc_id)."""
    live = pages.loc[pages["lang"].isin(langs), ["url", "text"]]
    id_of = dict(zip(docs["url"], docs["doc_id"]))
    return NumpyBM25Oracle({int(id_of[u]): t for u, t in zip(live["url"], live["text"])})


def _canon(pairs) -> list[tuple[int, float]]:
    """Rank order with scores rounded to DECIMALS and ties by doc_id."""
    return sorted(
        ((int(d), float(s)) for d, s in pairs), key=lambda p: (-round(p[1], DECIMALS), p[0])
    )


def same_topk(got, want) -> bool:
    """True when both (doc_id, score) lists hold the same docs in the same
    canonical order with scores equal at DECIMALS decimals."""
    g, w = _canon(got), _canon(want)
    return len(g) == len(w) and all(
        gd == wd and abs(gs - ws) <= 10.0 ** -DECIMALS for (gd, gs), (wd, ws) in zip(g, w)
    )


def rows_by_query(results: pd.DataFrame) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for qid, d, s in zip(results["query_id"], results["doc_id"], results["score"]):
        out.setdefault(int(qid), []).append((int(d), float(s)))
    return out


def oracle_mismatches(
    oracle: NumpyBM25Oracle, queries: pd.DataFrame, results: pd.DataFrame, ids
) -> list[int]:
    """query_ids among `ids` whose top-k differs from the oracle's. BOOL
    rows are checked as the flat AND/OR query they were rewritten from."""
    got = rows_by_query(results)
    bad = []
    for q in queries[queries["query_id"].isin(list(ids))].itertuples():
        terms = list(q.terms)
        mode = q.mode
        if mode == "BOOL":
            mode = q.orig_mode
            terms = [t for t in terms[0].split() if t not in ("AND", "OR")]
        want = oracle.topk(terms, k=int(q.k), mode=mode)
        if not same_topk(got.get(int(q.query_id), []), want):
            bad.append(int(q.query_id))
    return bad


def path_mismatches(a: pd.DataFrame, b: pd.DataFrame) -> list[int]:
    """query_ids whose answers differ between two query paths."""
    ra, rb = rows_by_query(a), rows_by_query(b)
    return sorted(q for q in set(ra) | set(rb) if not same_topk(ra.get(q, []), rb.get(q, [])))
