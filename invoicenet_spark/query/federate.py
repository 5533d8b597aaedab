"""Federated search across segment indexes (the crawl-segment topology).

At 10^12 documents nobody builds ONE index: Common Crawl ships a new crawl
every few weeks, and the production shape is one self-contained index per
crawl segment (each built/committed/compacted independently — exactly what
`build_index` produces), queried together. This module is the
MultiReader / cross-index-search analog (Lucene MultiSearcher, ES
`dfs_query_then_fetch`):

  1. **segment pruning** — each index records its corpus time range
     (stats.json ts_min/ts_max, from the docs table's warc_ts); a query
     with a time window skips whole segments whose range misses it. The
     partition-pruning idea, lifted to whole indexes: a 3-year archive
     queried for last month touches ~1/36 of its segments.
  2. **global statistics** — BM25 idf and length normalization use the
     UNION corpus: N = Σ N_i, avgdl = Σ dl_i / N, df(term) = Σ df_i(term).
     This is ES `dfs_query_then_fetch` (the extra stats round-trip that
     makes cross-index scores comparable); with per-segment stats a rare
     term in a small fresh segment would out-score the same term in the
     big archive. Result: federated top-k over segments carries the exact
     per-query score sequence of a single index built over the union
     corpus, and at exhaustive k the exact match set (pinned by test).
     The one thing NOT preserved is ordering WITHIN a tied score group:
     the union index tie-breaks on doc_id (whose order is the
     (hash-bucket, url) order of functions/ids.py), federation on
     (segment, doc_id) — the same no-guarantee ES gives for ties across
     shards (internal doc order). The federated order
     (score desc, segment asc, doc_id asc) is itself deterministic, a
     single-segment federation reproduces exec.search exactly, and
     cursors translate per segment (below).
  3. **scatter-gather merge** — each segment answers the batch with its
     own per-shard kernels (every pruning path intact: the segment search
     IS `exec.search` — or `search_local` on the serving path — on the
     plain segment handle, given the union stats and df through its
     `stats_override`/`df_override` hooks), producing ≤ k rows per
     (query, segment); the global merge re-ranks the union by
     (score desc, segment asc, doc_id asc) and keeps k. Merge input is
     ≤ k·n_segments rows per query — never proportional to corpus size.

Both paths run ONE design: `_check_segments`, `_live_segments`, then the
dfs probe `_dfs`, which resolves union df for only the batch's dictionary
keys (each live segment's plan.normalize + term_info, summed) — the
literal dfs_query_then_fetch two-phase: a stats round-trip, then scoring.
Scale shape: the per-segment searches are independent Spark jobs over
disjoint data (on a cluster: disjoint executors / one cluster per live
segment if desired); the only cross-segment traffic is the batch-sized
df probe and the k·n_segments-row merge. Global df for a query term a
segment lacks is still correct: the segment's dictionary has no row, so
the term scores only where it exists, with the union-corpus idf.

Fielded indexes federate too: stats.json already records per-field
(avgdl, n_docs), so the union overrides stats["fields"] with the
n_docs-weighted per-field means — every leaf of the rewritten field tree
then normalizes against the union field lengths, and the field-qualified
dictionary keys make the df union per-field for free.

search_after paginates across segments with the cursor
(after_score, after_segment, after_doc) — the federated result order is
(score desc, segment asc, doc_id asc), so the cursor translates EXACTLY
into each segment's native strict (score, doc_id) cursor: segments before
the cursor's segment drop all ties at after_score (after_doc = +inf),
the cursor's own segment resumes at its doc_id, segments after it keep
every tie (after_doc = -1). Pages therefore concatenate exactly to the
one-shot top-N (pinned), with no over-fetch: each segment still fills
only k slots from genuinely-after docs.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from invoicenet_spark.query import exec as qexec, plan


# per-segment after_doc sentinel for segments BEFORE the cursor's segment:
# strictly greater than any dense doc_id, so every tie at after_score drops
_AFTER_ALL_DOCS = 1 << 62


def _union_field_stats(per_seg: list[dict]) -> dict:
    """n_docs-weighted per-field avgdl union over segments' stats.json
    `fields` maps (same field set — enforced by _check_segments)."""
    out = {}
    for f in per_seg[0]:
        n = sum(s[f]["n_docs"] for s in per_seg)
        dl = sum(s[f]["n_docs"] * s[f]["avgdl"] for s in per_seg)
        out[f] = {"avgdl": float(dl / n) if n else 0.0, "n_docs": int(n)}
    return out


def _segment_cursor_queries(queries: pd.DataFrame, segment: int) -> pd.DataFrame:
    """Translate the federated (after_score, after_segment, after_doc)
    cursor into segment-local strict (after_score, after_doc) cursors (see
    module docstring): before the cursor's segment ties drop entirely, at
    it the native doc_id cursor applies, after it every tie survives."""
    q = queries.copy()
    if "after_score" not in q.columns or not q["after_score"].notna().any():
        return q.drop(columns=["after_segment"], errors="ignore")
    if "after_segment" not in q.columns:
        raise ValueError(
            "federated search_after needs after_segment (take it from the "
            "previous page's `segment` column alongside score/doc_id)"
        )
    mask = q["after_score"].notna()
    seg_raw = pd.to_numeric(q["after_segment"])
    if bool((mask & seg_raw.isna()).any()):
        # a cursored row with a NaN segment must error like a missing
        # column — filling -1 would make every live segment "after" it and
        # re-return all ties at after_score (overlapping pages)
        raise ValueError(
            "federated search_after needs after_segment (take it from the "
            "previous page's `segment` column alongside score/doc_id)"
        )
    seg = seg_raw.fillna(-1).astype("int64")
    if "after_doc" not in q.columns:
        q["after_doc"] = np.nan
    ad = pd.to_numeric(q["after_doc"]).astype("float64")
    if bool((mask & (seg == segment) & ad.isna()).any()):
        raise ValueError(
            "federated search_after needs after_doc (the previous page's "
            "last-row doc_id) alongside after_score/after_segment"
        )
    ad = ad.where(~(mask & (segment < seg)), float(_AFTER_ALL_DOCS))
    ad = ad.where(~(mask & (segment > seg)), -1.0)
    q["after_doc"] = ad
    return q.drop(columns=["after_segment"])


def _overlaps(ts_min, ts_max, ts_from, ts_to) -> bool:
    """Segment [ts_min, ts_max] vs query window [ts_from, ts_to]; a segment
    with no recorded range is never pruned (unknown ⊇ any window)."""
    if ts_min is None or ts_max is None:
        return True
    lo, hi = pd.Timestamp(ts_min), pd.Timestamp(ts_max)
    if ts_from is not None and hi < pd.Timestamp(ts_from):
        return False
    if ts_to is not None and lo > pd.Timestamp(ts_to):
        return False
    return True


def _check_segments(handles: list) -> None:
    """The one segment check both federated paths run: at least one
    segment, and one scoring config across all of them — k1/b, the token
    pattern, the field set and the analyzer chain (segments with different
    stopword/stem chains analyze the same query into different term forms,
    so union df and cross-segment scores would silently stop comparing)."""
    if not handles:
        raise ValueError("federated search needs at least one segment root")

    def _cfg(s):
        return (
            s["k1"], s["b"], s.get("token_pattern"),
            tuple(sorted(s.get("fields") or {})),
            tuple(s.get("stopwords") or ()), s.get("stem"),
        )

    cfg0 = _cfg(handles[0].stats)
    for h in handles[1:]:
        if (cfg := _cfg(h.stats)) != cfg0:
            raise ValueError(
                f"segment scoring configs differ ({cfg0} vs {cfg}) — "
                "federated segments must share k1/b/token_pattern/fields "
                "and the analyzer chain"
            )


def _live_segments(handles: list, ts_from=None, ts_to=None) -> list[int]:
    """Positions of the segments surviving time pruning for [ts_from,
    ts_to] — before any query work on either path."""
    return [
        i for i, h in enumerate(handles)
        if _overlaps(h.stats.get("ts_min"), h.stats.get("ts_max"), ts_from, ts_to)
    ]


def _dfs(handles: list, live: list[int], queries: pd.DataFrame, synonyms=None):
    """The dfs phase of dfs_query_then_fetch, shared by both paths:
    returns (stats_override, df_override) for the live set's union corpus.

    handles are exec.Index or LocalIndex; both inherit the one pyarrow
    term dictionary (plan.Dictionary), so a segment's term_info costs no
    Spark job on either path. Union N/avgdl (and per-field stats) come from
    the segments' stats.json — no data scan, sum_dl = N_i · avgdl_i. Union df covers exactly the
    dictionary keys the batch can touch: the probe set is what the SAME
    planner the per-segment searches run (plan.normalize: analyzer chain,
    synonyms, fielded auto-qualification, PREFIX/FUZZY expansion against
    each segment's dictionary, BOOL leaves) needs on any live segment, and
    each segment's term_info over it is summed. A probe that missed a
    scored term would silently score it with its segment-local df."""
    segs = [handles[i] for i in live]
    n_total = sum(h.stats["N"] for h in segs)
    sum_dl = sum(h.stats["N"] * h.stats["avgdl"] for h in segs)
    stats = {"N": int(n_total), "avgdl": float(sum_dl / n_total) if n_total else 0.0}
    if segs[0].stats.get("fields"):
        # n_docs-weighted per-field means; df needs nothing extra — fielded
        # dictionary keys are `field:term`, so the term-level union below
        # IS per-field
        stats["fields"] = _union_field_stats([h.stats["fields"] for h in segs])
    probe = set().union(*(plan.normalize(h, queries, h.stats, synonyms)[1] for h in segs))
    df: dict[str, int] = {}
    for h in segs:
        for t, (_tid, n) in h.term_info(probe).items():
            df[t] = df.get(t, 0) + int(n)
    return stats, df


def _result_cols(with_url: bool) -> list[str]:
    return ["query_id", "rank", "segment", "doc_id"] + (["url"] if with_url else []) + ["score"]


def _zero_counts(queries: pd.DataFrame) -> pd.DataFrame:
    """count_only over no live segment: every query reports 0 hits."""
    return pd.DataFrame({"query_id": queries["query_id"].astype("int64"),
                         "total_hits": np.zeros(len(queries), dtype="int64")})


class FederatedIndex:
    """A set of segment indexes searched as one corpus: the loaded,
    compatibility-checked per-segment `exec.Index` handles. Nothing is
    rewritten per live set — every search runs the shared dfs probe
    (`_dfs`) and hands its union stats/df to each plain segment handle's
    `exec.search` as `stats_override`/`df_override`."""

    def __init__(self, spark: SparkSession, roots: list[str]):
        self.segments = [qexec.load_index(spark, r) for r in roots]
        _check_segments(self.segments)

    def live_segments(self, ts_from=None, ts_to=None) -> list[int]:
        """Segment indices surviving time pruning for [ts_from, ts_to]."""
        return _live_segments(self.segments, ts_from, ts_to)


def search_federated(
    spark: SparkSession,
    fed: FederatedIndex | list[str],
    queries: pd.DataFrame,
    ts_from=None,
    ts_to=None,
    with_url: bool = True,
    count_only: bool = False,
    matches_only: bool = False,
    synonyms: dict | None = None,
) -> DataFrame:
    """Batch top-k search across segment indexes (see module docstring).

    queries: the `exec.search` pandas contract — (query_id, terms, mode, k)
    plus the optional modifier columns. PREFIX/FUZZY expansion runs per
    segment against that segment's dictionary (the Lucene per-reader
    rewrite); expanded terms score with union idf. synonyms: exec.search's
    query-time map; synonym-expanded terms get union df too.

    ts_from / ts_to (str | datetime | pd.Timestamp, either open): prune
    segments whose [ts_min, ts_max] misses the window BEFORE any Spark
    work. Pruning is segment-granular — docs inside a surviving segment
    are not time-filtered here (compose `doc_filter` per segment for
    that); stats stay the pruned-union's stats, matching a user who
    queries only the surviving crawls.

    Returns the `exec.search` result shape plus a `segment` column
    (position in fed.segments) so callers can route doc fetches:
      ranked:        (query_id, rank, segment, doc_id[, url], score)
      count_only:    (query_id, total_hits)
      matches_only:  (query_id, segment, doc_id, score)
    """
    if isinstance(fed, list):
        fed = FederatedIndex(spark, fed)
    if not isinstance(queries, pd.DataFrame):
        raise TypeError("search_federated takes a pandas query batch")
    live = fed.live_segments(ts_from, ts_to)
    if not live:
        if count_only:
            return spark.createDataFrame(_zero_counts(queries)).orderBy("query_id")
        if matches_only:
            return spark.createDataFrame(
                [], "query_id long, segment int, doc_id long, score double"
            )
        url = ", url string" if with_url else ""
        return spark.createDataFrame(
            [], f"query_id long, rank int, segment int, doc_id long{url}, score double"
        )

    stats, df = _dfs(fed.segments, live, queries, synonyms)
    per_seg = []
    for i in live:
        res = qexec.search(
            spark, fed.segments[i], _segment_cursor_queries(queries, i),
            with_url=with_url and not matches_only,
            count_only=count_only, matches_only=matches_only,
            synonyms=synonyms, stats_override=stats, df_override=df,
        )
        if not count_only:
            res = res.withColumn("segment", F.lit(i).cast("int"))
        per_seg.append(res)
    merged = reduce(DataFrame.unionByName, per_seg)

    if count_only:
        # segment corpora are disjoint — the union count is the sum
        return (
            merged.groupBy("query_id")
            .agg(F.sum("total_hits").cast("long").alias("total_hits"))
            .orderBy("query_id")
        )
    if matches_only:
        return merged.select("query_id", "segment", "doc_id", "score")

    # global merge: ≤ k rows per (query, segment) in, k out. Tie-break on
    # (segment, doc_id) — deterministic, exec.search-identical within one
    # segment, and exactly what the cursor translation assumes (doc_ids are
    # segment-local, so the pair is the global total order).
    order = [F.col("score").desc(), F.col("segment").asc(), F.col("doc_id").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    ks = spark.createDataFrame(
        queries[["query_id", "k"]].astype({"query_id": "int64", "k": "int64"})
    )
    return (
        merged.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(ks), "query_id")
        .where(F.col("rank") <= F.col("k"))
        .select(*_result_cols(with_url))
        .orderBy("query_id", "rank")
    )


# ----------------------------------------------------------------- serving --


def search_local_federated(
    roots_or_indexes: list,
    queries: pd.DataFrame,
    ts_from=None,
    ts_to=None,
    with_url: bool = True,
    count_only: bool = False,
    synonyms: dict | None = None,
) -> pd.DataFrame:
    """Serving twin: Spark-free scatter-gather over LocalIndex handles.

    The same segment check, time pruning and dfs probe (`_dfs`) as
    search_federated; the per-segment scoring runs `search_local` with the
    same stats/df overrides, so every serving kernel path is reused
    unchanged.

    Returns (query_id, rank, segment, doc_id[, url], score) ranked by
    (score desc, segment asc, doc_id asc) — identical rows to the Spark
    path (pinned). Fielded segments, synonyms and (after_score,
    after_segment, after_doc) cursors work exactly as in search_federated.
    """
    from invoicenet_spark.query.local import local_index, search_local

    lis = [local_index(r) for r in roots_or_indexes]
    _check_segments(lis)
    live = _live_segments(lis, ts_from, ts_to)
    if not live:
        return _zero_counts(queries) if count_only else pd.DataFrame(
            columns=_result_cols(with_url)
        )

    stats, df = _dfs(lis, live, queries, synonyms)
    merged = pd.concat([
        search_local(
            lis[i], _segment_cursor_queries(queries, i),
            with_url=with_url, count_only=count_only, synonyms=synonyms,
            stats_override=stats, df_override=df,
        ).assign(segment=i)
        for i in live
    ], ignore_index=True)
    if count_only:
        out = merged.groupby("query_id", as_index=False)["total_hits"].sum()
        return out.astype({"query_id": "int64", "total_hits": "int64"})
    if not len(merged):
        return pd.DataFrame(columns=_result_cols(with_url))
    merged = merged.sort_values(
        ["query_id", "score", "segment", "doc_id"],
        ascending=[True, False, True, True],
    )
    merged["rank"] = merged.groupby("query_id").cumcount() + 1
    kmap = dict(zip(queries["query_id"].astype(int), queries["k"].astype(int)))
    merged = merged[merged["rank"] <= merged["query_id"].map(kmap)]
    return merged[_result_cols(with_url)].reset_index(drop=True)
