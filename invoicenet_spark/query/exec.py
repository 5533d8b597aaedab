"""Query execution: the `predict.py` path (SURVEY.md §3.2), Spark-first.

Plan shape for a batch of queries:

  queries(query_id, terms, mode, k, …)              [collected, tiny]
    plan.normalize + query_specs (driver)           [the one query planner]
    → (query_id, term_id) pairs                     [tiny]
    postings ⋈ broadcast pairs on term_id           [pushed-down IN filter]
    groupBy(query_id, shard) applyInPandas          [kernels.run_shard]
    window top-k by (score desc, doc_id asc)        [global merge, tiny]
    docs ⋈ broadcast top-k → url                    [result materialization]

Query normalization (analyzer chain, synonyms, fielded rewrite, dictionary
expansion, BOOL trees) is query/plan.py and per-shard kernel routing is
kernels.run_shard — both shared with the serving path (query/local.py), so
the two paths give the same answers by construction.

Every (query_id, shard) task is independent — the shard axis is the same
docID-range partitioning the build used, so cross-shard skew cannot occur
and the global merge touches only per-shard top-k rows (≤ k · n_shards).

The term filter reaches the parquet scan as a pushed filter; postings files
are laid out sorted by term_id within each shard so row-group min/max
statistics skip non-matching row groups — the Iceberg metadata-pruning
analog under the plain-parquet fallback.
"""

from __future__ import annotations

import json
import operator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from invoicenet_spark.index.build import IndexPaths, read_postings
from invoicenet_spark.query import plan


@dataclass
class Index(plan.Dictionary):
    paths: IndexPaths
    postings: DataFrame
    terms: DataFrame
    docs: DataFrame
    stats: dict
    _local_dict: "pd.DataFrame | None" = None
    _fuzzy_vocab: "np.ndarray | None" = None
    _deleted_bc: "object | None" = None  # broadcast {shard: sorted doc_ids}

    @property
    def N(self) -> int:
        return self.stats["N"]

    @property
    def avgdl(self) -> float:
        return self.stats["avgdl"]

    def deleted_mask_source(self, spark: SparkSession):
        """How tombstone masks reach the shard kernels — created once per
        Index handle. Three regimes (size guard in index/deletes.py):

          ("none", None)  no tombstones — the common case adds nothing.
          ("bc", bc)      a per-shard {shard: ids} dict broadcast (the
                          Lucene liveDocs analog: memory ∝ outstanding
                          un-purged tombstones, reset by purge).
          ("df", frame)   beyond TOMBSTONE_BROADCAST_MAX_IDS: a per-shard
                          (shard, _deleted[]) frame the plan left-joins onto
                          the candidates — executor memory ∝ shards a task
                          touches (each array ≤ shard_size), never the full
                          set; the driver never materializes the ids at all.
        """
        if self._deleted_bc is None:
            from invoicenet_spark.index.deletes import (
                TOMBSTONE_BROADCAST_MAX_IDS,
                load_tombstones,
                split_by_shard,
                tombstone_count_upper,
                tombstones_by_shard_df,
            )

            n_upper = tombstone_count_upper(self.paths)
            if n_upper == 0:
                self._deleted_bc = ("none", None)
            elif n_upper > TOMBSTONE_BROADCAST_MAX_IDS:
                self._deleted_bc = (
                    "df",
                    tombstones_by_shard_df(
                        spark, self.paths, int(self.stats["shard_size"])
                    ),
                )
            else:
                by_shard = split_by_shard(
                    load_tombstones(self.paths), int(self.stats["shard_size"])
                )
                self._deleted_bc = (
                    ("bc", spark.sparkContext.broadcast(by_shard))
                    if by_shard
                    else ("none", None)
                )
        return self._deleted_bc

    def hot_dict(self) -> "pd.DataFrame | None":
        """Driver-side term → (term_id, df) cache for low-latency lookups —
        what a serving node holds hot. Skipped when the vocabulary exceeds
        plan.MAX_HOT_TERMS (then lookups stay pushed-filter dictionary
        scans)."""
        if self._local_dict is None:
            if self.terms.count() > plan.MAX_HOT_TERMS:
                return None
            self._local_dict = self.terms.toPandas().set_index("term")
        return self._local_dict

    def _scan_terms(self, kind, patterns, max_edits, limit) -> set[str]:
        """Big-vocab expansion: the match pushed into a JVM dictionary scan
        (Java regex dialect for 'regex', F.levenshtein for 'fuzzy')."""
        cond = {
            "prefix": lambda p: F.col("term").startswith(p),
            "regex": lambda p: F.col("term").rlike(f"^(?:{p})$"),
            "fuzzy": lambda t: F.levenshtein("term", F.lit(t)) <= int(max_edits),
        }[kind]
        rows = (
            self.terms.where(reduce(operator.or_, map(cond, patterns)))
            .select("term").limit(limit).collect()
        )
        return {r["term"] for r in rows}

    def _scan_info(self, needed) -> dict[str, tuple[int, int]]:
        rows = (
            self.terms.where(F.col("term").isin(needed))
            .select("term", "term_id", "df").collect()
        )
        return {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}


def load_index(spark: SparkSession, root: str) -> Index:
    paths = IndexPaths(root)
    with open(paths.stats) as f:
        stats = json.load(f)
    # the dictionary is scanned (with a pushed semi-join filter) on every
    # query — cache it; it is orders of magnitude smaller than postings.
    # Postings come from the COMMITTED file list in the shard log (the
    # object-store commit protocol) — partial files from a crashed build
    # are never visible to queries.
    return Index(
        paths=paths,
        postings=read_postings(spark, paths),
        terms=spark.read.parquet(paths.terms).cache(),
        docs=spark.read.parquet(paths.docs),
        stats=stats,
    )


RESULT_SCHEMA = "query_id long, doc_id long, score double"


# PREFIX / REGEX+WILDCARD / FUZZY dictionary rewrites (plan.Dictionary),
# callable as functions of the Index: expand_prefix_terms(index, prefixes)
expand_prefix_terms = plan.Dictionary.expand_prefixes
expand_regex_terms = plan.Dictionary.expand_regex
expand_fuzzy_terms = plan.Dictionary.expand_fuzzy


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


def excluded_by_shard_df(
    spark: SparkSession,
    meta: DataFrame,
    predicate: str,
    shard_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES filter-context exclusions as a (shard, _deleted array<long>
    sorted) frame — the same per-shard mask carrier the big-tombstone-set
    regime uses, so the shard kernels apply a metadata filter with ZERO
    kernel changes and BEFORE top-k selection (post-filtering a ranked
    page would under-fill it; Lucene applies filter bitsets during
    collection for the same reason).

    Excluded = meta rows where `predicate` is NOT TRUE — false and NULL
    both exclude (ES filter semantics: a missing/NULL field never
    matches). Contract: `meta` must cover every indexed doc (it is the
    corpus metadata table); docs absent from `meta` are not excluded.

    Scale shape: ONE scan of the metadata table with the negated
    predicate and the id column pushed to the reader, then a single
    shuffle keyed by shard to build the arrays (each ≤ shard_size, the
    docID-range sharding guarantee). Exclusion volume ∝ docs FAILING the
    filter, so permissive filters are near-free; a highly selective
    filter (most docs excluded) pays arrays ∝ shard population — at that
    extreme, seeding candidates from the allowed side instead would win,
    which is the documented future escalation."""
    return (
        meta.where(~F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False)))
        .select(F.col(id_col).cast("long").alias("doc_id"))
        .distinct()
        .withColumn("shard", (F.col("doc_id") / F.lit(int(shard_size))).cast("long"))
        .groupBy("shard")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_deleted"))
    )


def _merge_mask_frames(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two (shard, _deleted[]) mask frames into one — tombstones +
    filter exclusions ride a single joined column, keeping the kernel's
    one-mask contract."""
    empty = F.array().cast("array<long>")
    return (
        a.withColumnRenamed("_deleted", "_da")
        .join(b.withColumnRenamed("_deleted", "_db"), "shard", "full")
        .select(
            "shard",
            F.array_sort(
                F.array_union(F.coalesce("_da", empty), F.coalesce("_db", empty))
            ).alias("_deleted"),
        )
    )


def _empty_results(spark: SparkSession, with_url: bool) -> DataFrame:
    schema = "query_id long, rank int, doc_id long, score double"
    if with_url:
        schema = "query_id long, rank int, doc_id long, url string, score double"
    return spark.createDataFrame([], schema=schema)


def _shard_group(specs: list, stats: dict, kernel: str, deleted_bc=None, count: bool = False):
    """applyInPandas body for one (query_id, shard) group: the group's
    posting rows go through the query's QuerySpec to kernels.run_shard.
    The specs ride the closure (query batches are tiny by contract), so
    the shuffled rows carry only (query_id, term_id) beside the postings.
    deleted_bc: a broadcast {shard: sorted tombstoned doc_ids} or None —
    each group masks with ITS shard's slice only. count: emit ONE row per
    group whose doc_id column carries the shard's match COUNT (summed by
    the caller — the track_total_hits analog). `run` is deliberately
    unannotated: PySpark then takes the grouped-map eval type as given,
    while a partial annotation made it warn on every call."""
    by_qid = {s.query_id: s for s in specs}

    def run(key, pdf):
        qid, shard = int(key[0]), int(key[1])
        deleted = None
        if deleted_bc is not None:
            deleted = deleted_bc.value.get(shard)
        elif "_deleted" in pdf.columns:
            # big-tombstone-set regime: this shard's ids arrived as a joined
            # column (same array on every row of the group) — see
            # Index.deleted_mask_source
            val = pdf["_deleted"].iloc[0]
            if isinstance(val, (list, np.ndarray)) and len(val):
                deleted = np.asarray(val, dtype=np.int64)
            pdf = pdf.drop(columns=["_deleted"])  # keep row dicts lean
        rows = {int(r["term_id"]): r for r in pdf.to_dict("records")}
        res = by_qid[qid].run_shard(
            rows, stats, kernel=kernel, deleted=deleted, count=count
        )
        docs, scores = (np.array([res]), np.zeros(1)) if count else res
        return pd.DataFrame(
            {"query_id": np.full(docs.size, qid, dtype=np.int64),
             "doc_id": docs.astype(np.int64),
             "score": scores.astype(np.float64)}
        )

    return run


def search(
    spark: SparkSession,
    index: Index,
    queries: pd.DataFrame | DataFrame,
    kernel: str = "auto",
    with_url: bool = True,
    count_only: bool = False,
    matches_only: bool = False,
    doc_filter: "tuple[DataFrame, str] | None" = None,
    synonyms: dict | None = None,
) -> DataFrame:
    """Batch top-k search. queries: (query_id, terms array<string>, mode, k).

    synonyms {token: [equivalent tokens]} expands query-time (see
    qparse.apply_synonyms_rows: OR appends clauses, AND becomes
    AND-of-disjunction-groups on the tree pipeline; tokens must be
    analyzer-output forms when the index has a chain).

    Optional query columns (absent = off, per row):
      neg_terms array<string> — docs containing ANY of these are excluded
          (Lucene must_not); scoring is over `terms` only.
      min_match int — OR queries keep only docs matching >= min_match
          distinct query terms (minimumNumberShouldMatch).
    mode "PREFIX": each entry of `terms` is a prefix, rewritten driver-side
    to the matching dictionary terms (expand_prefix_terms) and scored as OR.

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
    into the tombstone mask frame — see excluded_by_shard_df for the
    semantics (false/NULL exclude) and scale shape. Applies to ranked,
    count_only and matches_only modes alike.

    Returns (query_id, rank, doc_id, score[, url]) sorted by query_id, rank.
    """
    if count_only and matches_only:
        raise ValueError("count_only and matches_only are mutually exclusive")
    # a Spark-frame batch is collected like a pandas one: query batches are
    # tiny by contract, and normalization is driver-side for every row
    qpd = queries if isinstance(queries, pd.DataFrame) else queries.toPandas()
    qpd, needed, positional = plan.normalize(index, qpd, index.stats, synonyms)
    specs = plan.query_specs(qpd, index.term_info(needed), index.stats)
    if matches_only:
        # k bounds each kernel's per-shard output; the full match set means
        # no bound (2^62 is unreachable by any shard's doc count)
        for spec in specs:
            spec.k = 1 << 62
    pairs = pd.DataFrame(
        [(s.query_id, t) for s in specs for t in sorted(s.term_ids())],
        columns=["query_id", "term_id"], dtype="int64",
    )
    qids = pd.DataFrame({"query_id": [s.query_id for s in specs]}, dtype="int64")
    if count_only:
        zero = spark.createDataFrame(qids).withColumn("total_hits", F.lit(0).cast("long"))
    if pairs.empty:
        return zero.orderBy("query_id") if count_only else _empty_results(spark, with_url)

    # postings probe on term_id. A broadcast join alone would SCAN the whole
    # postings table and filter in the join — at web scale that reads the
    # entire index. The explicit IN-filter on the (tiny) batch's term_ids
    # pushes the predicate into the parquet scan: `PushedFilters: [In(term_id,
    # …)]` + row-group min/max skipping on the term_id-sorted files turn the
    # probe into a near-point lookup. Posting rows are self-contained
    # (per-posting doc_len stream), so it is the only scan.
    probe = index.postings.where(F.col("term_id").isin(sorted(set(pairs["term_id"]))))
    if not positional:
        # the position stream is the fattest column; only proximity reads it
        probe = probe.drop("pos_blob", "block_pos_off")
    cand = probe.join(F.broadcast(spark.createDataFrame(pairs)), "term_id")

    mask_kind, mask_payload = index.deleted_mask_source(spark)
    if doc_filter is not None:
        meta_df, pred = doc_filter
        excl = excluded_by_shard_df(
            spark, meta_df, pred, int(index.stats["shard_size"])
        )
        if mask_kind == "bc":
            # fold the broadcast tombstones into frame form and merge —
            # with a filter in play the join-frame regime carries both
            # (filter exclusions have no small-set guarantee)
            from invoicenet_spark.index.deletes import tombstones_by_shard_df

            excl = _merge_mask_frames(
                tombstones_by_shard_df(
                    spark, index.paths, int(index.stats["shard_size"])
                ),
                excl,
            )
        elif mask_kind == "df":
            excl = _merge_mask_frames(mask_payload, excl)
        mask_kind, mask_payload = "df", excl
    if mask_kind == "df":
        # big-tombstone-set regime: each kernel group gets ONLY its shard's
        # ids via this equi-join — no full-set broadcast anywhere
        cand = cand.join(mask_payload, "shard", "left")
    out = cand.groupBy("query_id", "shard").applyInPandas(
        _shard_group(
            specs, index.stats, kernel, mask_payload if mask_kind == "bc" else None,
            count=count_only,
        ),
        schema=RESULT_SCHEMA,
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
