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
     IS `exec.search` on a stats-overridden handle), producing ≤ k rows
     per (query, segment); the global merge re-ranks the union by
     (score desc, url asc) and keeps k. Merge input is ≤ k·n_segments
     rows per query — never proportional to corpus size.

Scale shape: the per-segment searches are independent Spark jobs over
disjoint data (on a cluster: disjoint executors / one cluster per live
segment if desired); the only cross-segment exchanges are the
dictionary-sized df union and the k·n_segments-row merge. Global-df for a
query term the segment lacks is still correct: the segment's terms frame
simply has no row, so the term scores only where it exists, with the
union-corpus idf.

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

import dataclasses
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
    `fields` maps (same field set — enforced at FederatedIndex open)."""
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


class FederatedIndex:
    """A set of segment indexes searched as one corpus.

    Holds the loaded per-segment `exec.Index` handles plus the global
    statistics (computed once per handle — the dfs round-trip is paid at
    open, not per query): union N/avgdl from the segments' stats.json
    (no data scan — sum_dl = N_i · avgdl_i), and the union-df dictionary
    as a Spark frame (one dictionary-sized union+agg, cached).
    """

    def __init__(self, spark: SparkSession, roots: list[str]):
        if not roots:
            raise ValueError("FederatedIndex needs at least one segment root")
        self.spark = spark
        self.segments = [qexec.load_index(spark, r) for r in roots]

        def _cfg(ix):
            return (
                ix.stats["k1"], ix.stats["b"], ix.stats.get("token_pattern"),
                tuple(sorted(ix.stats.get("fields") or {})),
                # analyzer chain is part of score comparability: segments
                # built with different stopword/stem chains analyze the
                # same query into different term forms
                tuple(ix.stats.get("stopwords") or ()),
                ix.stats.get("stem"),
            )

        cfg0 = _cfg(self.segments[0])
        for ix in self.segments[1:]:
            cfg = _cfg(ix)
            if cfg != cfg0:
                raise ValueError(
                    f"segment scoring configs differ ({cfg0} vs {cfg}) — "
                    "cross-segment scores would not be comparable"
                )
        n_total = sum(ix.stats["N"] for ix in self.segments)
        sum_dl = sum(ix.stats["N"] * ix.stats["avgdl"] for ix in self.segments)
        self.n_total = int(n_total)
        self.avgdl = float(sum_dl / n_total) if n_total else 0.0
        # stats-overridden handles per LIVE SET: time pruning restricts the
        # corpus, so scores must use the surviving-union's N/avgdl/df (a user
        # who queries only last month's crawls scores against that corpus,
        # and the pruned federation must equal a federation opened on the
        # surviving segments alone — pinned by test). Keyed by the live
        # tuple; the all-live entry is what unwindowed searches hit.
        self._global_cache: dict[tuple, list] = {}

    def global_segments(self, live: tuple[int, ...]) -> list:
        """Per-segment handles re-keyed to the live set's union statistics:
        same paths/postings/docs, but N/avgdl come from the summed
        stats.json values and each term's df from a dictionary-sized
        union+agg over the live segments' terms tables (cached — every
        search call's idf join reads it). exec.search on such a handle
        computes union-idf with zero changes — every kernel, pruning route,
        tombstone mask and filter applies per segment."""
        if live in self._global_cache:
            return self._global_cache[live]
        segs = [self.segments[i] for i in live]
        n_total = sum(ix.stats["N"] for ix in segs)
        sum_dl = sum(ix.stats["N"] * ix.stats["avgdl"] for ix in segs)
        avgdl = float(sum_dl / n_total) if n_total else 0.0
        extra = {"N": int(n_total), "avgdl": avgdl}
        if segs[0].stats.get("fields"):
            # per-field union: stats.json holds (avgdl, n_docs) per field, so
            # the n_docs-weighted mean is the union field avgdl exactly; df
            # needs nothing — fielded dictionary keys are `field:term`, so
            # the term-level union below IS per-field
            extra["fields"] = _union_field_stats(
                [ix.stats["fields"] for ix in segs]
            )
        df_union = (
            reduce(
                DataFrame.unionByName,
                [ix.terms.select("term", "df") for ix in segs],
            )
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .cache()
        )
        out = [
            dataclasses.replace(
                ix,
                stats={**ix.stats, **extra},
                terms=ix.terms.drop("df")
                .join(df_union, "term", "left")
                .fillna(0, subset=["df"]),
                _local_dict=None,
                _fuzzy_vocab=None,
            )
            for ix in segs
        ]
        # Batched term resolution: resolve (term → term_id, union df) for
        # every live segment in ONE union job here (the open/dfs phase,
        # where the df union is already computed) instead of two small jobs
        # per segment on the first query. The plan.MAX_HOT_TERMS ceiling
        # applies PER SEGMENT, from parquet footer row counts (no Spark
        # job): an oversized segment keeps the pushed-filter
        # dictionary-scan path without turning the hot dictionary off for
        # the others.
        import pyarrow.dataset as pads

        hot = [
            i
            for i, h in enumerate(out)
            if pads.dataset(h.paths.terms, format="parquet").count_rows()
            <= plan.MAX_HOT_TERMS
        ]
        if hot:
            pdf = reduce(
                DataFrame.unionByName,
                [
                    out[i].terms.select(F.lit(i).alias("_seg"), "term", "term_id", "df")
                    for i in hot
                ],
            ).toPandas()
            for i in hot:
                out[i]._local_dict = (
                    pdf[pdf["_seg"] == i].drop(columns=["_seg"]).set_index("term")
                )
        self._global_cache[live] = out
        return out

    def ts_range(self, i: int):
        s = self.segments[i].stats
        return s.get("ts_min"), s.get("ts_max")

    def live_segments(self, ts_from=None, ts_to=None) -> list[int]:
        """Segment indices surviving time pruning for [ts_from, ts_to]."""
        return [
            i
            for i in range(len(self.segments))
            if _overlaps(*self.ts_range(i), ts_from, ts_to)
        ]


def search_federated(
    spark: SparkSession,
    fed: FederatedIndex | list[str],
    queries: pd.DataFrame,
    ts_from=None,
    ts_to=None,
    with_url: bool = True,
    count_only: bool = False,
    matches_only: bool = False,
) -> DataFrame:
    """Batch top-k search across segment indexes (see module docstring).

    queries: the `exec.search` pandas contract — (query_id, terms, mode, k)
    plus the optional modifier columns. PREFIX/FUZZY expansion runs per
    segment against that segment's dictionary (the Lucene per-reader
    rewrite); expanded terms score with union idf.

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
            return spark.createDataFrame(
                pd.DataFrame(
                    {"query_id": queries["query_id"].astype("int64"),
                     "total_hits": np.zeros(len(queries), dtype="int64")}
                )
            ).orderBy("query_id")
        return _empty_federated(spark, with_url, matches_only)

    handles = dict(zip(live, fed.global_segments(tuple(live))))
    per_seg = []
    for i in live:
        seg_ix = handles[i]
        res = qexec.search(
            spark, seg_ix, _segment_cursor_queries(queries, i),
            with_url=with_url and not matches_only,
            count_only=count_only, matches_only=matches_only,
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
    cols = ["query_id", "rank", "segment", "doc_id"] + (
        ["url"] if with_url else []
    ) + ["score"]
    return (
        merged.drop("rank")
        .withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(ks), "query_id")
        .where(F.col("rank") <= F.col("k"))
        .select(*cols)
        .orderBy("query_id", "rank")
    )


def _empty_federated(spark, with_url: bool, matches_only: bool) -> DataFrame:
    if matches_only:
        return spark.createDataFrame(
            [], "query_id long, segment int, doc_id long, score double"
        )
    url = ", url string" if with_url else ""
    return spark.createDataFrame(
        [], f"query_id long, rank int, segment int, doc_id long{url}, score double"
    )


# ----------------------------------------------------------------- serving --


def search_local_federated(
    roots_or_indexes: list,
    queries: pd.DataFrame,
    ts_from=None,
    ts_to=None,
    with_url: bool = True,
    count_only: bool = False,
) -> pd.DataFrame:
    """Serving twin: Spark-free scatter-gather over LocalIndex handles.

    Global stats come the cheap interactive way — union N/avgdl from each
    segment's stats.json, union df for ONLY the query's resolved terms
    (each segment's term_info probe, summed) — i.e. the literal
    dfs_query_then_fetch two-phase: stats round-trip, then scoring. The
    per-segment scoring runs `search_local` with stats/df overrides, so
    every serving kernel path is reused unchanged.

    Returns (query_id, rank, segment, doc_id[, url], score) ranked by
    (score desc, segment asc, doc_id asc) — identical rows to the Spark
    path (pinned). Fielded segments and (after_score, after_segment,
    after_doc) cursors work exactly as in search_federated.
    """
    from invoicenet_spark.query.local import local_index, search_local

    lis = [local_index(r) for r in roots_or_indexes]
    # same compatibility contract as FederatedIndex: scoring params AND the
    # analyzer chain must match, or per-segment query analysis diverges and
    # union-df/score comparability silently breaks
    def _cfg(li):
        return (
            li.stats["k1"], li.stats["b"], li.stats.get("token_pattern"),
            tuple(sorted(li.stats.get("fields") or {})),
            tuple(li.stats.get("stopwords") or ()),
            li.stats.get("stem"),
        )

    if lis:
        cfg0 = _cfg(lis[0])
        for li in lis[1:]:
            cfg = _cfg(li)
            if cfg != cfg0:
                raise ValueError(
                    f"segment scoring configs differ ({cfg0} vs {cfg}) — "
                    "federated segments must share k1/b/token_pattern/fields "
                    "and the analyzer chain"
                )
    live = [
        i
        for i, li in enumerate(lis)
        if _overlaps(li.stats.get("ts_min"), li.stats.get("ts_max"), ts_from, ts_to)
    ]
    if not live:
        if count_only:
            return pd.DataFrame(
                {"query_id": queries["query_id"].astype("int64"),
                 "total_hits": np.zeros(len(queries), dtype="int64")}
            )
        cols = ["query_id", "rank", "segment", "doc_id"] + (
            ["url"] if with_url else []
        ) + ["score"]
        return pd.DataFrame(columns=cols)

    n_total = sum(lis[i].stats["N"] for i in live)
    avgdl = (
        sum(lis[i].stats["N"] * lis[i].stats["avgdl"] for i in live) / n_total
        if n_total
        else 0.0
    )
    # dfs phase: union df for every dictionary key the batch can touch, per
    # segment. The term set comes from the SAME planner search_local itself
    # runs (plan.normalize: fielded auto-qualification, PREFIX/FUZZY
    # expansion against each segment's dictionary, BOOL leaf terms) — any
    # probe/scoring divergence would silently score a term with its
    # segment-local df instead of the union's.
    probe: set[str] = set()
    for i in live:
        probe |= plan.normalize(lis[i], queries, lis[i].stats)[1]
    df_union: dict[str, int] = {}
    for i in live:
        for t, (_tid, df) in lis[i].term_info(set(probe)).items():
            df_union[t] = df_union.get(t, 0) + int(df)

    stats_override = {"N": n_total, "avgdl": avgdl}
    if lis[live[0]].stats.get("fields"):
        stats_override["fields"] = _union_field_stats(
            [lis[i].stats["fields"] for i in live]
        )
    frames = []
    for i in live:
        res = search_local(
            lis[i], _segment_cursor_queries(queries, i),
            with_url=with_url, count_only=count_only,
            stats_override=stats_override, df_override=df_union,
        )
        if not count_only:
            res = res.copy()
            res["segment"] = i
        frames.append(res)
    merged = pd.concat(frames, ignore_index=True)
    if count_only:
        out = merged.groupby("query_id", as_index=False)["total_hits"].sum()
        return out.astype({"query_id": "int64", "total_hits": "int64"})
    if not len(merged):
        cols = ["query_id", "rank", "segment", "doc_id"] + (
            ["url"] if with_url else []
        ) + ["score"]
        return pd.DataFrame(columns=cols)
    merged = merged.sort_values(
        ["query_id", "score", "segment", "doc_id"],
        ascending=[True, False, True, True],
    )
    merged["rank"] = merged.groupby("query_id").cumcount() + 1
    kmap = dict(zip(queries["query_id"].astype(int), queries["k"].astype(int)))
    merged = merged[merged["rank"] <= merged["query_id"].map(kmap)]
    cols = ["query_id", "rank", "segment", "doc_id"] + (
        ["url"] if with_url else []
    ) + ["score"]
    return merged[cols].reset_index(drop=True)
