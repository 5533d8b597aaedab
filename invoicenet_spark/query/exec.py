"""Query execution: the `predict.py` path (SURVEY.md §3.2), Spark-first.

Plan shape for a batch of queries:

  queries(query_id, terms, mode, k, …)              [collected, tiny]
    plan.normalize + query_specs (driver)           [the one query planner]
    postings where term_id IN (batch terms)         [pushed-down IN filter]
    cogroup by shard with the (shard, doc_id) mask  [tombstones ∪ doc_filter]
    applyInPandas → plan.run_shard_batch            [the serving path's loop]
    window top-k by (score desc, doc_id asc)        [global merge, tiny]
    docs ⋈ broadcast top-k → url                    [result materialization]

Query normalization (analyzer chain, synonyms, fielded rewrite, dictionary
expansion, every row compiled into a tree) is query/plan.py and the
per-shard batch loop is plan.run_shard_batch — both shared with the
serving path (query/local.py), so the two paths give the same answers by
construction.

Every shard group is independent — the shard axis is the same docID-range
partitioning the build used, so a group builds its posting rows once and
runs every query of the batch over them, and the global merge touches only
per-shard top-k rows (≤ k · n_shards per query). Batch parallelism is the
number of probed shards.

The term filter reaches the parquet scan as a pushed filter; postings files
are laid out sorted by term_id within each shard so row-group min/max
statistics skip non-matching row groups — the Iceberg metadata-pruning
analog under the plain-parquet fallback.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from invoicenet_spark.index.build import IndexPaths, read_postings
from invoicenet_spark.index.codec import POSITION_COLUMNS
from invoicenet_spark.index.deletes import list_tombstone_files, read_tombstones_spark
from invoicenet_spark.query import plan


@dataclass
class Index(plan.Dictionary):
    paths: IndexPaths
    postings: DataFrame
    docs: DataFrame
    stats: dict
    # tombstone files at load time: a handle masks exactly these deletes
    tombstone_files: list[str] = field(default_factory=list)

    @property
    def N(self) -> int:
        return self.stats["N"]

    @property
    def avgdl(self) -> float:
        return self.stats["avgdl"]


def load_index(spark: SparkSession, root: str) -> Index:
    paths = IndexPaths(root)
    with open(paths.stats) as f:
        stats = json.load(f)
    # the term dictionary is plan.Dictionary's pyarrow read of
    # paths.terms, loaded on first lookup with no Spark job.
    # Postings come from the COMMITTED file list in the shard log (the
    # object-store commit protocol) — partial files from a crashed build
    # are never visible to queries — read with the explicit schema, so the
    # postings read starts no schema-inference job (the docs read still
    # does: its columns vary with the build's options).
    return Index(
        paths=paths,
        postings=read_postings(spark, paths),
        docs=spark.read.parquet(paths.docs),
        stats=stats,
        tombstone_files=list_tombstone_files(paths),
    )


RESULT_SCHEMA = "query_id long, doc_id long, score double"


def facet_counts(results: DataFrame, meta: DataFrame, field: str) -> DataFrame:
    """Facet the matched result set by a doc-metadata field: results ⋈ meta
    on doc_id, then count per (query_id, field value).

    Scale shape: post-top-k results are <= k·n_queries rows (broadcast side
    of the join); faceting over ALL matches should feed from
    search(matches_only=True) — the full match set WITHOUT the per-query
    relevance window (a facet never needs relevance order) — making the
    whole plan a doc_id equi-join into ONE partial-agg shuffle keyed by
    (query_id, value); facet cardinality bounds the shuffle, not corpus
    size. `meta` is any
    frame carrying (doc_id, field) — the engine docs table (e.g. url, or
    parse_url(url,'HOST') for host facets) or an external metadata table."""
    return (
        results.join(meta.select("doc_id", field), "doc_id")
        .groupBy("query_id", field)
        .agg(F.count("*").alias("n_docs"))
    )


DATE_HISTOGRAM_INTERVALS = ("hour", "day", "week", "month", "year")


def date_histogram(
    results: DataFrame,
    meta: DataFrame,
    interval: str = "day",
    ts_col: str = "warc_ts",
    min_doc_count: int = 1,
) -> DataFrame:
    """ES date_histogram agg over the matched set: bucket each matched
    doc's timestamp (default the crawl time `warc_ts`, a docs-table
    doc-values column since the federated-search round) by calendar
    `interval` and count per (query_id, bucket).

    Feed from search(matches_only=True) for all-matches semantics (same
    reasoning as facet_counts — an agg never needs relevance order). Docs
    with a NULL timestamp are excluded, matching ES (missing values leave
    the histogram). min_doc_count=0 is ES's gap-filling mode — NOT
    supported (gaps need a generate_series over the bounds; callers can
    densify the tiny result driver-side). Scale shape: one doc_id
    equi-join into ONE partial-agg shuffle keyed by (query_id, bucket);
    bucket cardinality bounds the shuffle, not corpus size."""
    if interval not in DATE_HISTOGRAM_INTERVALS:
        raise ValueError(
            f"interval must be one of {DATE_HISTOGRAM_INTERVALS}, got {interval!r}"
        )
    if min_doc_count < 1:
        raise ValueError("min_doc_count=0 (gap filling) is not supported")
    out = (
        results.select("query_id", "doc_id")
        .join(meta.select("doc_id", ts_col), "doc_id")
        .where(F.col(ts_col).isNotNull())
        .groupBy(
            "query_id", F.date_trunc(interval, F.col(ts_col)).alias("bucket")
        )
        .agg(F.count("*").alias("n_docs"))
    )
    if min_doc_count > 1:
        out = out.where(F.col("n_docs") >= min_doc_count)
    return out.orderBy("query_id", "bucket")


def top_by_field(
    matches: DataFrame,
    meta: DataFrame,
    field: str,
    k: int,
    ascending: bool = False,
) -> DataFrame:
    """Sort-by-field (the ES `sort` clause analog): rank each query's FULL
    match set by a doc-metadata column instead of relevance — newest pages
    first, alphabetical hosts, etc. `matches` should come from
    search(matches_only=True) — relevance is ignored, so the match set
    must not pay the relevance window (a big-k ranked result works too); `meta` any (doc_id, field) frame — the engine docs
    table or an external metadata table, exactly like facet_counts.

    Scale shape: one doc_id equi-join, then a per-query window over the
    match set — the same merge cost as search()'s own ranking, bounded by
    matches, with the deterministic doc_id tie-break."""
    col = F.col(field).asc() if ascending else F.col(field).desc()
    w = Window.partitionBy("query_id").orderBy(col, F.col("doc_id").asc())
    return (
        matches.select("query_id", "doc_id")
        .join(meta.select("doc_id", field), "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", field)
        .orderBy("query_id", "rank")
    )


def _with_shard(ids: DataFrame, shard_size: int) -> DataFrame:
    """(doc_id) rows as (shard, doc_id) mask rows — docID-range sharding."""
    return ids.select(
        (F.col("doc_id") / F.lit(int(shard_size))).cast("long").alias("shard"),
        F.col("doc_id").cast("long"),
    )


def excluded_by_shard_df(
    spark: SparkSession,
    meta: DataFrame,
    predicate: str,
    shard_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES filter-context exclusions as (shard, doc_id) rows — the same mask
    carrier tombstones ride, so the shard kernels apply a metadata filter
    with ZERO kernel changes and BEFORE top-k selection (post-filtering a
    ranked page would under-fill it; Lucene applies filter bitsets during
    collection for the same reason).

    Excluded = meta rows where `predicate` is NOT TRUE — false and NULL
    both exclude (ES filter semantics: a missing/NULL field never
    matches). Contract: `meta` must cover every indexed doc (it is the
    corpus metadata table); docs absent from `meta` are not excluded.

    Scale shape: ONE scan of the metadata table with the negated
    predicate and the id column pushed to the reader; search() groups the
    rows by shard beside the postings (each group ≤ shard_size ids, the
    docID-range sharding guarantee). Exclusion volume ∝ docs FAILING the
    filter, so permissive filters are near-free; a highly selective
    filter (most docs excluded) pays ids ∝ shard population — at that
    extreme, seeding candidates from the allowed side instead would win,
    which is the documented future escalation."""
    excluded = meta.where(
        F.col(id_col).isNotNull()
        & ~F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
    ).select(F.col(id_col).alias("doc_id"))
    return _with_shard(excluded, shard_size)


def _empty_results(spark: SparkSession, with_url: bool) -> DataFrame:
    schema = "query_id long, rank int, doc_id long, score double"
    if with_url:
        schema = "query_id long, rank int, doc_id long, url string, score double"
    return spark.createDataFrame([], schema=schema)


def _shard_batch(specs: list, stats: dict, count: bool):
    """cogroup applyInPandas body for one shard: the shard's posting rows
    (built into {term_id: row} once) and its masked doc_ids go through
    plan.run_shard_batch — the serving path's per-shard loop, which decodes
    each row at most once for the whole batch — for every query of the
    batch. The specs ride the closure (query batches are tiny
    by contract). count: one row per (query, shard) whose doc_id column
    carries the match COUNT (summed by the caller — the track_total_hits
    analog). `run` is deliberately unannotated: PySpark then takes the
    cogrouped-map eval type as given, while a partial annotation made it
    warn on every call."""

    def run(key, postings, mask):
        rows = {int(r["term_id"]): r for r in postings.to_dict("records")}
        # np.unique: drop_deleted needs sorted ids, and tombstones may repeat
        deleted = np.unique(mask["doc_id"].to_numpy(np.int64)) if len(mask) else None
        qids, docs, scores = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)], [np.zeros(0)]
        for spec, res in zip(specs, plan.run_shard_batch(specs, rows, stats, deleted, count)):
            if res is None:
                continue
            d, s = (np.array([res]), np.zeros(1)) if count else res
            qids.append(np.full(d.size, spec.query_id, dtype=np.int64))
            docs.append(d.astype(np.int64))
            scores.append(s.astype(np.float64))
        return pd.DataFrame({"query_id": np.concatenate(qids),
                             "doc_id": np.concatenate(docs),
                             "score": np.concatenate(scores)})

    return run


def search(
    spark: SparkSession,
    index: Index,
    queries: pd.DataFrame | DataFrame,
    with_url: bool = True,
    count_only: bool = False,
    matches_only: bool = False,
    doc_filter: "tuple[DataFrame, str] | None" = None,
    synonyms: dict | None = None,
    stats_override: dict | None = None,
    df_override: "dict[str, int] | None" = None,
) -> DataFrame:
    """Batch top-k search. queries: (query_id, terms array<string>, mode, k).

    synonyms {token: [equivalent tokens]} expands query-time (see
    booltree.flat_row_to_tree: OR rows gain clauses, AND rows become
    AND-of-disjunction-groups; tokens must be analyzer-output forms when
    the index has a chain).

    Optional query columns (absent = off, per row):
      neg_terms array<string> — docs containing ANY of these are excluded
          (Lucene must_not); scoring is over `terms` only.
      min_match int — OR queries keep only docs matching >= min_match
          distinct query terms (minimumNumberShouldMatch).
    mode "PREFIX": each entry of `terms` is a prefix, rewritten driver-side
    to the matching dictionary terms (Index.expand_prefixes) and scored as OR.

    count_only (track_total_hits analog): return (query_id, total_hits)
    instead of ranked rows — per-shard exhaustive match COUNTS summed with
    one tiny aggregation, no scoring, no global top-k merge; pagination
    cursors are ignored (a count is page-independent).

    matches_only: return the FULL per-query match set as UNRANKED
    (query_id, doc_id, score) rows — k is ignored, and the per-query
    global ranking window (the one global sort in the plan) is skipped —
    the kernels still run (so deletes/NOT/cursors apply). This is
    the right input for match-set aggregations: facet_counts and
    top_by_field order by facet value / field, never by relevance, so at
    scale they should not pay a relevance sort over every match first.

    doc_filter (ES filter context): a (meta DataFrame, SQL predicate)
    pair — only docs whose meta row satisfies the predicate are
    searchable, applied BEFORE per-shard top-k (so filtered-out docs
    never occupy k slots) and shared by every query in the batch. The
    filter restricts matching but never scores (Lucene filter clauses
    contribute 0). Implemented as negated-predicate exclusions unioned
    with the handle's tombstones into one (shard, doc_id) mask — see
    excluded_by_shard_df for the semantics (false/NULL exclude) and scale
    shape. Applies to ranked, count_only and matches_only modes alike.

    stats_override / df_override: the federation hooks search_local shares
    (query/federate.py), with the same semantics — the union corpus's
    scoring constants (N, avgdl, field stats) and per-term df replace the
    handle's own; a term missing from df_override keeps its own df.

    Returns (query_id, rank, doc_id, score[, url]) sorted by query_id, rank.
    """
    if count_only and matches_only:
        raise ValueError("count_only and matches_only are mutually exclusive")
    # a Spark-frame batch is collected like a pandas one: query batches are
    # tiny by contract, and normalization is driver-side for every row
    qpd = queries if isinstance(queries, pd.DataFrame) else queries.toPandas()
    stats = {**index.stats, **stats_override} if stats_override else index.stats
    qrows, needed, positional = plan.normalize(index, qpd, stats, synonyms)
    specs = plan.query_specs(qrows, index.term_info(needed), stats, df_override)
    if matches_only:
        # k bounds each kernel's per-shard output; the full match set means
        # no bound (2^62 is unreachable by any shard's doc count)
        for spec in specs:
            spec.k = 1 << 62
    term_ids = sorted(set().union(*(s.idf for s in specs)))
    qids = pd.DataFrame({"query_id": [s.query_id for s in specs]}, dtype="int64")
    if count_only:
        zero = spark.createDataFrame(qids).withColumn("total_hits", F.lit(0).cast("long"))
    if not term_ids:
        return zero.orderBy("query_id") if count_only else _empty_results(spark, with_url)

    # postings probe on term_id. The explicit IN-filter on the (tiny)
    # batch's term_ids pushes the predicate into the parquet scan:
    # `PushedFilters: [In(term_id, …)]` + row-group min/max skipping on the
    # term_id-sorted files turn the probe into a near-point lookup. Posting
    # rows are self-contained (per-posting doc_len stream), so it is the
    # only scan, and each probed row reaches the kernels exactly once. The
    # IN list is one SQL string (the ids are dictionary ints): Column.isin
    # costs one py4j call per literal.
    probe = index.postings.where(
        F.expr(f"term_id IN ({', '.join(str(int(t)) for t in term_ids)})")
    )
    if not positional:
        # the position stream is the fattest column; only proximity reads it
        probe = probe.drop(*POSITION_COLUMNS)

    # the mask: (shard, doc_id) rows — the handle's tombstones plus the
    # doc_filter's exclusions — grouped beside each shard's postings, so a
    # kernel group holds only its shard's ids (≤ shard_size) and the driver
    # never materializes them
    shard_size = int(stats["shard_size"])
    masks = []
    tombstones = read_tombstones_spark(spark, index.paths, files=index.tombstone_files)
    if tombstones is not None:
        masks.append(_with_shard(tombstones, shard_size))
    if doc_filter is not None:
        meta_df, pred = doc_filter
        masks.append(excluded_by_shard_df(spark, meta_df, pred, shard_size))
    mask = (
        reduce(DataFrame.unionByName, masks) if masks
        else spark.createDataFrame([], "shard long, doc_id long")
    )
    out = probe.groupBy("shard").cogroup(mask.groupBy("shard")).applyInPandas(
        _shard_batch(specs, stats, count_only), schema=RESULT_SCHEMA
    )
    if count_only:
        counts = out.groupBy("query_id").agg(
            F.sum("doc_id").cast("long").alias("total_hits")
        )
        # zero-match queries still report 0 (track_total_hits contract)
        return (
            zero.drop("total_hits")
            .join(counts, "query_id", "left")
            .select(
                "query_id",
                F.coalesce("total_hits", F.lit(0)).cast("long").alias("total_hits"),
            )
            .orderBy("query_id")
        )
    if matches_only:
        # the match set IS the result — no rank window, no url join; feed
        # this straight into facet_counts / top_by_field
        return out

    ks = qids.assign(k=[s.k for s in specs])
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    topk = (
        out.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(spark.createDataFrame(ks)), "query_id")
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
    if with_url:
        # broadcast the SMALL side: topk is ≤ k·n_queries rows by contract,
        # docs is corpus-sized, so the docs scan streams against the tiny
        # built top-k table (BroadcastHashJoin BuildRight over the scan).
        # Inner join: every posting doc_id has a docs row.
        topk = (
            index.docs.select("doc_id", "url")
            .join(F.broadcast(topk), "doc_id")
            .select("query_id", "rank", "doc_id", "url", "score")
        )
    return topk.orderBy("query_id", "rank")
