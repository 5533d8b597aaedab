"""queries() / oracle_sql() registry for the driver correctness gate.

Each entry exercises an implemented operator from SURVEY.md §2 over the
driver testdata and has an ANSI-SQL twin that DuckDB runs on the same
parquet. Column names are aliased identically on both sides; float outputs
are rounded before comparison and ranks are computed over rounded scores so
cross-engine summation-order noise (≈1e-16) cannot flip a hash.

Analyzer twin (must stay in sync with functions/analyzer.py):
  Spark : filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')
  DuckDB: list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.functions.analyzer import ngrams_col, tokens_col
from invoicenet_spark.functions.normalize import (
    normalize_amount,
    normalize_date,
    pattern_hash_class,
)
from invoicenet_spark.ops import dedup, similarity, text_analysis

# ---------------------------------------------------------------- helpers --
_DUCK_TOKS = (
    "SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '')) AS term FROM documents"
)

# fixed raw-amount golden inputs (reference amount_generator.py semantics),
# including European dot-grouped/comma-decimal shapes
AMOUNT_RAWS = [
    "1,234.5",
    "1234.567",
    "0.5",
    "99",
    "12,345,678.9",
    "7.00",
    "3.999",
    "1000000",
    "42.1",
    "0.01",
    "1.234,56",
    "1234,5",
    "12.345.678,99",
    "7,25",
]

# P5 type-router golden inputs: dates (all supported surface forms), amounts
# (US + EU), implausible/future dates, and junk
ROUTE_RAWS = [
    "2023-01-15",
    "Jan 5, 2023",
    "5 January 2023",
    "1/31/94",
    "31.12.1997",
    "12/31/2149",
    "1,234.50",
    "1.234,56",
    "99.99",
    "0.5",
    "12345",
    "hello world",
    "3/45/2020",
]
# (raw, cand_type, value_norm) hand-computed expectations for the oracle
ROUTE_EXPECT = [
    ("2023-01-15", "date", "01-15-2023"),
    ("Jan 5, 2023", "date", "01-05-2023"),
    ("5 January 2023", "date", "01-05-2023"),
    ("1/31/94", "date", "01-31-1994"),
    ("31.12.1997", "date", "12-31-1997"),
    ("12/31/2149", None, None),  # parses but fails the P4 future-date gate
    ("1,234.50", "amount", "1234.50"),
    ("1.234,56", "amount", "1234.56"),
    ("99.99", "amount", "99.99"),
    ("0.5", "amount", "0.50"),
    ("12345", None, None),
    ("hello world", None, None),
    ("3/45/2020", None, None),
]

BM25_QUERY_TERMS = ["spark", "query", "window"]
BM25_AND_TERMS = ["spark", "join"]
BM25_PHRASE = ["join", "key"]  # frequent real bigram in the documents corpus


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages shape; url = zero-padded doc_id so the engine's
    url-rank docIDs invert exactly (cast(url AS long) = original doc_id)."""
    return _docs(spark, sf_dir).select(
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        "lang",
    )


_INDEX_CACHE: dict = {}


def _bm25_engine_results(
    spark: SparkSession, sf_dir: str, terms, mode: str, k: int, **qextra
):
    """Run the real engine (build index over en-docs, search) and return
    (rank, doc_id, score_r4) ranked on rounded score for oracle stability."""
    from invoicenet_spark.index.build import build_index

    cache_key = (sf_dir,)
    if cache_key not in _INDEX_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="ivs_idx_"), "index")
        cfg = EngineConfig(
            shard_size=256, block_size=64, build_partitions=8, with_positions=True
        )
        build_index(
            spark, _docs_as_pages(spark, sf_dir), out, cfg, use_stored_text=True
        )
        _INDEX_CACHE[cache_key] = out
    return _ranked_from_index(spark, _INDEX_CACHE[cache_key], terms, mode, k, **qextra)


def _ranked_from_index(
    spark: SparkSession, index_root: str, terms, mode: str, k: int,
    doc_filter=None, synonyms=None, **qextra
):
    """qextra: optional per-query fields (neg_terms, min_match) passed
    straight into the query row — exercised by the query-language oracles.
    doc_filter: (meta frame, SQL predicate) forwarded to search() — the ES
    filter-context oracle. synonyms: query-time synonym map ditto."""
    import pandas as pd

    from invoicenet_spark.query.exec import load_index, search

    index = load_index(spark, index_root)
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(terms), "mode": mode, "k": 100000, **qextra}]
    )
    res = search(
        spark, index, q, with_url=True, doc_filter=doc_filter,
        synonyms=synonyms,
    )
    scored = res.select(
        F.col("url").cast("long").alias("doc_id"),
        F.round(F.col("score"), 6).alias("score_r6"),
    )
    # cap FIRST via orderBy+limit (TakeOrderedAndProject — no single-partition
    # WindowExec over the full result); (score_r6 desc, doc_id) is a total
    # order, so ranks over the capped set equal ranks over the full set
    top = scored.orderBy(F.col("score_r6").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score_r6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", F.round("score_r6", 4).alias("score_r4")
    )


# federated-search fixture: epoch anchoring the synthetic warc_ts column
# (2024-01-01T00:00:00 UTC; ts = epoch + doc_id seconds on both sides)
_FED_EPOCH = 1704067200


def _federated_roots(spark: SparkSession, sf_dir: str):
    """Two segment indexes over doc_id halves (the crawl-segment topology),
    each with a synthetic warc_ts = epoch + doc_id seconds so segment time
    ranges land in stats.json. Returns (root_a, root_b, T) with segment a
    owning doc_id <= T and segment b the rest."""
    from invoicenet_spark.index.build import build_index

    key = ("fed", sf_dir)
    if key not in _INDEX_CACHE:
        pages = _docs_as_pages(spark, sf_dir).withColumn(
            "warc_ts",
            F.timestamp_seconds(F.lit(_FED_EPOCH) + F.col("url").cast("long")),
        )
        max_id = pages.agg(F.max(F.col("url").cast("long"))).collect()[0][0]
        T = int(max_id) // 2
        base = tempfile.mkdtemp(prefix="ivs_fed_")
        cfg = EngineConfig(
            shard_size=256, block_size=64, build_partitions=8, with_positions=True
        )
        for name, pred in (
            ("a", F.col("url").cast("long") <= F.lit(T)),
            ("b", F.col("url").cast("long") > F.lit(T)),
        ):
            build_index(
                spark, pages.where(pred), os.path.join(base, name), cfg,
                use_stored_text=True,
            )
        _INDEX_CACHE[key] = (os.path.join(base, "a"), os.path.join(base, "b"), T)
    return _INDEX_CACHE[key]


def _federated_ranked(
    spark: SparkSession, sf_dir: str, terms, mode: str, k: int, pruned: bool = False
):
    """search_federated over the two doc_id-half segments; same rounded
    re-rank contract as _ranked_from_index. pruned=True passes a time
    window covering only segment b — whole-segment pruning plus
    surviving-corpus statistics, the ES `indices from the last crawl` shape."""
    import datetime

    import pandas as pd

    from invoicenet_spark.query.federate import search_federated

    ra, rb, T = _federated_roots(spark, sf_dir)
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(terms), "mode": mode, "k": 100000}]
    )
    kw = {}
    if pruned:
        # fromtimestamp (system tz) matches Spark's collect()/stats tz
        kw["ts_from"] = datetime.datetime.fromtimestamp(_FED_EPOCH + T + 1)
    res = search_federated(spark, [ra, rb], q, **kw)
    scored = res.select(
        F.col("url").cast("long").alias("doc_id"),
        F.round(F.col("score"), 6).alias("score_r6"),
    )
    top = scored.orderBy(F.col("score_r6").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score_r6").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", F.round("score_r6", 4).alias("score_r4")
    )


# analyzer-chain fixture (the stemmed/stopworded index oracle): stopwords
# shared by the engine config and the oracle SQL's NOT IN list
_ANALYZER_STOPWORDS = ("a", "the")


def _analyzed_index(spark: SparkSession, sf_dir: str) -> str:
    """Index over the en-docs built WITH the analyzer chain (stopwords +
    S-stemmer) — stats/doc_len shrink by the removed stopwords, query terms
    run the same chain (plural surfaces hit the stemmed dictionary)."""
    from invoicenet_spark.index.build import build_index

    key = ("analyzed", sf_dir)
    if key not in _INDEX_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="ivs_idx_an_"), "index")
        cfg = EngineConfig(
            shard_size=256, block_size=64, build_partitions=8,
            with_positions=True, stopwords=_ANALYZER_STOPWORDS, stem="s_stem",
        )
        build_index(
            spark, _docs_as_pages(spark, sf_dir), out, cfg, use_stored_text=True
        )
        _INDEX_CACHE[key] = out
    return _INDEX_CACHE[key]


def q_bm25_analyzed(spark, sf_dir):
    """Analyzer chain end-to-end: the index drops stopwords (doc_len/avgdl
    shrink — scores move) and stems plurals; the PLURAL query surfaces
    ('windows^2', 'tables', and the stopword 'the', which elides) are
    chain-rewritten at query time to hit the stemmed dictionary. Oracle:
    the same chain stated in SQL with the analyzed query constants."""
    return _ranked_from_index(
        spark, _analyzed_index(spark, sf_dir),
        ["windows^2", "tables", "the"], "OR", 20,
    )


def _ts_index(spark: SparkSession, sf_dir: str) -> str:
    """Index whose docs carry the synthetic warc_ts (epoch + doc_id
    seconds, the federated fixture's formula) — the date_histogram agg
    fixture."""
    from invoicenet_spark.index.build import build_index

    key = ("ts", sf_dir)
    if key not in _INDEX_CACHE:
        # 997s (~16.6 min) apart: sf0.01's 2000 docs spread over ~23
        # days, so hourly buckets hold small multi-doc counts
        pages = _docs_as_pages(spark, sf_dir).withColumn(
            "warc_ts",
            F.timestamp_seconds(
                F.lit(_FED_EPOCH) + F.col("url").cast("long") * F.lit(997)
            ),
        )
        out = os.path.join(tempfile.mkdtemp(prefix="ivs_idx_ts_"), "index")
        cfg = EngineConfig(shard_size=256, block_size=64, build_partitions=8)
        build_index(spark, pages, out, cfg, use_stored_text=True)
        _INDEX_CACHE[key] = out
    return _INDEX_CACHE[key]


def q_bm25_date_histogram(spark, sf_dir):
    """ES date_histogram over the FULL match set (matches_only feed): hourly
    crawl-time buckets of every doc matching the OR query. Buckets compare
    as epoch seconds (tz-proof oracle schema); counts are per distinct
    matched doc."""
    import pandas as pd

    from invoicenet_spark.query.exec import date_histogram, load_index, search

    index = load_index(spark, _ts_index(spark, sf_dir))
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 1}]
    )
    matches = search(spark, index, q, matches_only=True)
    hist = date_histogram(matches, index.docs, interval="hour")
    return hist.select(
        F.col("bucket").cast("long").alias("bucket_s"),
        F.col("n_docs").cast("long").alias("n_docs"),
    ).orderBy("bucket_s")


# predicate (on the ORIGINAL documents.doc_id) selecting the docs the
# delete-semantics queries tombstone — shared by engine side and oracle SQL
_DELETE_PRED_SQL = "doc_id % 10 = 3"

# metadata predicate for the ES-filter-context oracle (even-numbered
# sources, half the corpus) — shared by the engine's doc_filter and the
# DuckDB twin
_FILTER_PRED_SQL = (
    "source IN ('src0','src2','src4','src6','src8',"
    "'src10','src12','src14','src16','src18')"
)


def _bm25_deleted_results(
    spark: SparkSession, sf_dir: str, terms, mode: str, k: int, purged: bool
):
    """Engine results from an index where docs matching _DELETE_PRED_SQL were
    tombstoned (index/deletes.py). purged=False: query-time masking only —
    stats (N/avgdl/df) stay as-built over the full corpus, tombstoned docs
    are excluded from ranking. purged=True: compact_index's physical purge
    ran — postings/docs rewritten without the victims and stats re-derived
    over the survivors. Each is pinned against the matching DuckDB oracle."""
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.index.deletes import delete_docs

    key = (sf_dir, "purged" if purged else "deleted")
    if key not in _INDEX_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="ivs_idx_del_"), "index")
        cfg = EngineConfig(
            shard_size=256, block_size=64, build_partitions=8, with_positions=True
        )
        build_index(
            spark, _docs_as_pages(spark, sf_dir), out, cfg, use_stored_text=True
        )
        victims = [
            r["url"]
            for r in _docs(spark, sf_dir)
            .where(F.expr(_DELETE_PRED_SQL))
            .select(F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"))
            .collect()
        ]
        delete_docs(spark, out, urls=victims)
        if purged:
            from invoicenet_spark.index.maintain import compact_index

            compact_index(spark, out, new_shard_size=256)
        _INDEX_CACHE[key] = out
    return _ranked_from_index(spark, _INDEX_CACHE[key], terms, mode, k)


def _duck_bm25(
    terms,
    mode: str,
    k: int,
    deleted: str | None = None,
    neg_terms=None,
    min_match: int = 0,
    prefix: bool = False,
    boosts: dict | None = None,
    near_slop: int | None = None,
    near_unordered: bool = False,
    page_offset: int = 0,
    fuzzy_edits: int | None = None,
    filter_pred: str | None = None,
    corpus_pred: str | None = None,
    analyzed: bool = False,
    regex_full: list[str] | None = None,
) -> str:
    """deleted: 'masked' — exclude _DELETE_PRED_SQL docs from ranking only
    (tombstone semantics: corpus stats still count them); 'purged' — exclude
    them from the corpus entirely (post-purge semantics: stats re-derived).
    neg_terms: docs containing any are excluded from ranking (must_not).
    min_match: OR queries keep docs matching >= m distinct terms.
    prefix: `terms` are prefixes; the query-term set is every corpus term
    matching one (the engine's dictionary == distinct corpus terms).
    boosts: {term: boost} — scales that term's score contribution (the
    engine's `term^boost` syntax).
    near_slop (2 terms): ordered proximity — keep docs where term2 follows
    term1 at distance <= 1+slop (the engine's NEAR/slop; slop=0 == PHRASE).
    filter_pred: ES filter context — only docs whose documents-row satisfies
    the predicate rank (excluded BEFORE the top-k window, never scored);
    false/NULL exclude, matching search(doc_filter=...)."""
    boosts = boosts or {}
    tlist = ", ".join(
        f"('{t}', {float(boosts.get(t, 1.0))!r})" for t in dict.fromkeys(terms)
    )
    n_terms = len(dict.fromkeys(terms))
    having = f"HAVING count(DISTINCT term) = {n_terms}" if mode == "AND" else ""
    if min_match > 1:
        having = f"HAVING count(DISTINCT term) >= {min_match}"
    phrase_filter = ""
    if mode == "PHRASE":
        adj = " AND ".join(f"ts[i+{j}] = '{t}'" for j, t in enumerate(terms))
        phrase_filter = f"""
, phrase_docs AS (
  SELECT doc_id FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           t -> t <> '') AS ts
    FROM documents WHERE lang = 'en')
  WHERE len(list_filter(range(1, greatest(len(ts) - {len(terms) - 2}, 1)),
        i -> {adj})) > 0
)"""
    if near_slop is not None:
        t1, t2 = list(dict.fromkeys(terms))[:2]
        if near_unordered:
            # order-tolerant: any t1 position with a t2 position within
            # |i-j| <= 1+slop (n=2 → window = n-1+slop)
            w = 1 + int(near_slop)
            inner = (
                f"ts[i] = '{t1}' AND len(list_filter(range(greatest(i - {w}, 1), i + {w} + 1),"
                f" j -> ts[j] = '{t2}')) > 0"
            )
        else:
            inner = (
                f"ts[i] = '{t1}' AND len(list_filter(range(i + 1, i + 2 + {int(near_slop)}),"
                f" j -> ts[j] = '{t2}')) > 0"
            )
        phrase_filter = f"""
, phrase_docs AS (
  SELECT doc_id FROM (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           t -> t <> '') AS ts
    FROM documents WHERE lang = 'en')
  WHERE len(list_filter(range(1, len(ts) + 1),
        i -> {inner})) > 0
)"""
    scored_src = (
        "scored JOIN phrase_docs USING(doc_id)"
        if (mode == "PHRASE" or near_slop is not None)
        else "scored"
    )
    corpus_sql = f" AND NOT ({_DELETE_PRED_SQL})" if deleted == "purged" else ""
    if corpus_pred:
        # corpus restriction (federated segment pruning analog): stats,
        # df and candidates all derive from the restricted corpus
        corpus_sql += f" AND ({corpus_pred})"
    rank_conds = []
    if deleted == "masked":
        rank_conds.append(f"NOT ({_DELETE_PRED_SQL})")
    if neg_terms:
        nlist = ", ".join(f"'{t}'" for t in dict.fromkeys(neg_terms))
        rank_conds.append(
            f"doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ({nlist}))"
        )
    if filter_pred:
        rank_conds.append(
            "doc_id IN (SELECT doc_id FROM documents"
            f" WHERE coalesce(({filter_pred}), false))"
        )
    rank_pred = (" WHERE " + " AND ".join(rank_conds)) if rank_conds else ""
    if regex_full:
        # WILDCARD/REGEX rewrite: the query-term set is every corpus term
        # FULLY matching one of the anchored patterns (the engine's
        # dictionary == distinct corpus terms)
        rcond = " OR ".join(
            f"regexp_full_match(term, '{p}')" for p in dict.fromkeys(regex_full)
        )
        qt_cte = f"qt AS (SELECT DISTINCT term, 1.0 AS boost FROM toks WHERE {rcond})"
    elif prefix:
        plike = " OR ".join(f"term LIKE '{p}%'" for p in dict.fromkeys(terms))
        qt_cte = f"qt AS (SELECT DISTINCT term, 1.0 AS boost FROM toks WHERE {plike})"
    elif fuzzy_edits is not None:
        flev = " OR ".join(
            f"levenshtein(term, '{t}') <= {int(fuzzy_edits)}"
            for t in dict.fromkeys(terms)
        )
        qt_cte = f"qt AS (SELECT DISTINCT term, 1.0 AS boost FROM toks WHERE {flev})"
    else:
        qt_cte = f"qt(term, boost) AS (VALUES {tlist})"
    toks_cte = f"""toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'{corpus_sql}
)"""
    if analyzed:
        # the index-side analyzer chain twin (functions/analyzer.py
        # analyze_col): stopword removal, then the Harman S-stemmer stated
        # with the identical suffix conditions (no lookbehind — portable)
        stop_list = ", ".join(f"'{s}'" for s in _ANALYZER_STOPWORDS)
        toks_cte = f"""toks0 AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'{corpus_sql}
),
toks AS (
  SELECT doc_id,
         CASE
           WHEN length(term) > 3 AND term LIKE '%ies' THEN
             CASE WHEN term LIKE '%eies' OR term LIKE '%aies' THEN term
                  ELSE substr(term, 1, length(term)-3) || 'y' END
           WHEN length(term) > 3 AND term LIKE '%es' THEN
             CASE WHEN term LIKE '%aes' OR term LIKE '%ees' OR term LIKE '%oes'
                  THEN term ELSE substr(term, 1, length(term)-1) END
           WHEN length(term) > 3 AND term LIKE '%s' THEN
             CASE WHEN term LIKE '%us' OR term LIKE '%ss' THEN term
                  ELSE substr(term, 1, length(term)-1) END
           ELSE term
         END AS term
  FROM toks0 WHERE term NOT IN ({stop_list})
)"""
    return f"""
WITH {toks_cte},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
{qt_cte},
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( qt.boost * ln((stats.n - dfq.df + 0.5)/(dfq.df + 0.5) + 1.0)
              * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN dfq USING(term) JOIN qt USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
  {having}
){phrase_filter},
r AS (SELECT doc_id, round(score, 6) AS score_r6 FROM {scored_src}{rank_pred})
SELECT CAST(row_number() OVER (ORDER BY score_r6 DESC, doc_id) - {page_offset} AS BIGINT) AS rank,
       doc_id, round(score_r6, 4) AS score_r4
FROM r
QUALIFY row_number() OVER (ORDER BY score_r6 DESC, doc_id)
        BETWEEN {page_offset + 1} AND {page_offset + k}
ORDER BY rank
"""


# ----------------------------------------------------------------- queries --
def q_term_counts(spark, sf_dir):
    """T2/A1: term occurrence counts over the analyzed corpus."""
    return _toks(spark, sf_dir).groupBy("term").agg(F.count("*").alias("n_occ"))


def q_doc_freq(spark, sf_dir):
    """H1/A8: document frequency per term.

    Per-doc dedup happens in the ARRAY domain (array_distinct inside the
    scan projection), so the plan is scan → explode → one partial-agg
    shuffle of (term, count) — the (doc_id, term) distinct EXCHANGE the
    previous shape paid is gone (round 6, guide §2.4); result identical
    (df = number of docs containing the term)."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(F.array_distinct(tokens_col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )


def q_doc_stats(spark, sf_dir):
    """A8: per-doc token length."""
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("doc_len")
    )


def q_corpus_stats(spark, sf_dir):
    """A8: N + avgdl over the en-subset (the index-stats aggregate)."""
    d = _docs(spark, sf_dir).where(F.col("lang") == "en")
    return d.select(F.size(tokens_col("text")).alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl_r6"),
    )


def q_bm25_topk_or(spark, sf_dir):
    """J4/A1/K1: disjunctive BM25 top-k through the real index + kernels."""
    return _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 20)


def q_bm25_local_topk(spark, sf_dir):
    """The SERVING path (query/local.py — pyarrow reads, no Spark job) under
    the same DuckDB oracle as the Spark batch path: identical results from
    identical index files is the whole contract."""
    import pandas as pd

    from invoicenet_spark.query.exec import load_index
    from invoicenet_spark.query.local import search_local

    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure index
    index = load_index(spark, _INDEX_CACHE[(sf_dir,)])
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 100000}]
    )
    res = search_local(index, q)
    res["doc_id"] = res["url"].astype("int64")
    res["score_r6"] = res["score"].round(6)
    res = res.sort_values(["score_r6", "doc_id"], ascending=[False, True]).head(20)
    res["rank"] = range(1, len(res) + 1)
    res["score_r4"] = res["score_r6"].round(4)
    return spark.createDataFrame(
        res[["rank", "doc_id", "score_r4"]],
        schema="rank long, doc_id long, score_r4 double",
    )


def q_bm25_topk_and(spark, sf_dir):
    """J4 conjunctive: posting-list intersection + BM25."""
    return _bm25_engine_results(spark, sf_dir, BM25_AND_TERMS, "AND", 20)


def q_bm25_phrase(spark, sf_dir):
    """T2/J4 positional: exact-phrase filter + BM25 over the phrase terms."""
    return _bm25_engine_results(spark, sf_dir, BM25_PHRASE, "PHRASE", 20)


BM25_MSM_TERMS = ["spark", "window", "join", "query"]


def q_bm25_topk_not(spark, sf_dir):
    """Negated terms (Lucene must_not): score the OR query, exclude every
    doc containing the negated term; survivors' scores unchanged."""
    return _bm25_engine_results(
        spark, sf_dir, BM25_QUERY_TERMS, "OR", 20, neg_terms=["join"]
    )


def q_bm25_topk_msm(spark, sf_dir):
    """minimum_should_match: OR over 4 terms keeping docs matching >= 3."""
    return _bm25_engine_results(
        spark, sf_dir, BM25_MSM_TERMS, "OR", 20, min_match=3
    )


def q_bm25_topk_prefix(spark, sf_dir):
    """PREFIX query: 's' expands against the term dictionary (spark, scan,
    sort, …) and scores as OR over the expansion."""
    return _bm25_engine_results(spark, sf_dir, ["s"], "PREFIX", 20)


def q_bm25_topk_near(spark, sf_dir):
    """NEAR/3 ordered proximity: 'join' followed by 'key' within span 4 —
    the positional query family beyond exact PHRASE (slop=0 == PHRASE)."""
    return _bm25_engine_results(spark, sf_dir, BM25_PHRASE, "NEAR", 20, slop=3)


BOOL_QUERY = "(spark AND query) OR (window NOT join)"
FIELD_WEIGHTS = {"title": 2.0, "body": 1.0}


def _bm25_fielded_results(spark: SparkSession, sf_dir: str, terms, mode: str, k: int):
    """Engine results from a FIELDED index (BM25F-lite): title = the doc's
    first 8 analyzer tokens, body = the rest — both sides derive the fields
    from `text` with the same token slicing, so the oracle is exact."""
    from invoicenet_spark.index.build import build_index

    key = (sf_dir, "fielded")
    if key not in _INDEX_CACHE:
        out = os.path.join(tempfile.mkdtemp(prefix="ivs_idx_f_"), "index")
        cfg = EngineConfig(
            shard_size=256, block_size=64, build_partitions=8,
            fields=("title", "body"),
        )
        toks = tokens_col("text")
        pages = _docs(spark, sf_dir).select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"),
            F.array_join(F.slice(toks, 1, 8), " ").alias("title"),
            F.array_join(F.slice(toks, 9, 1 << 30), " ").alias("body"),
            "lang",
        )
        build_index(spark, pages, out, cfg, use_stored_text=True)
        _INDEX_CACHE[key] = out
    return _ranked_from_index(
        spark, _INDEX_CACHE[key], terms, mode, k, fields=dict(FIELD_WEIGHTS)
    )


def q_bm25_topk_fielded(spark, sf_dir):
    """Fielded BM25F-lite: per-field postings (field-qualified dictionary),
    per-field length normalization, query weights title^2 body^1."""
    return _bm25_fielded_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 20)


def _duck_bm25_fielded(terms, k: int) -> str:
    """DuckDB twin: weighted sum of per-field BM25 partials — field token
    lists are slices of the analyzed text (title = ts[1:8], body = ts[9:]),
    df/avgdl per field, idf over the global corpus N."""
    tlist = ", ".join(f"('{t}')" for t in dict.fromkeys(terms))
    w_title, w_body = FIELD_WEIGHTS["title"], FIELD_WEIGHTS["body"]
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '') AS ts
  FROM documents WHERE lang = 'en'
),
n AS (SELECT count(*) AS n FROM base),
qt(term) AS (VALUES {tlist}),
ttoks AS (SELECT doc_id, unnest(ts[1:8]) AS term FROM base),
btoks AS (SELECT doc_id, unnest(ts[9:]) AS term FROM base),
tdl AS (SELECT doc_id, len(ts[1:8]) AS dl FROM base WHERE len(ts[1:8]) > 0),
bdl AS (SELECT doc_id, len(ts[9:]) AS dl FROM base WHERE len(ts[9:]) > 0),
tstats AS (SELECT avg(dl) AS avgdl FROM tdl),
bstats AS (SELECT avg(dl) AS avgdl FROM bdl),
ttf AS (
  SELECT term, doc_id, count(*) AS tf FROM ttoks
  WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id
),
btf AS (
  SELECT term, doc_id, count(*) AS tf FROM btoks
  WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id
),
tdf AS (SELECT term, count(*) AS df FROM ttf GROUP BY term),
bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
tscore AS (
  SELECT ttf.doc_id,
         sum({w_title} * ln((n.n - tdf.df + 0.5)/(tdf.df + 0.5) + 1.0)
             * ttf.tf * 2.2 / (ttf.tf + 1.2 * (1 - 0.75 + 0.75 * tdl.dl / tstats.avgdl))) AS s
  FROM ttf JOIN tdf USING(term) JOIN tdl USING(doc_id)
  CROSS JOIN tstats CROSS JOIN n
  GROUP BY ttf.doc_id
),
bscore AS (
  SELECT btf.doc_id,
         sum({w_body} * ln((n.n - bdf.df + 0.5)/(bdf.df + 0.5) + 1.0)
             * btf.tf * 2.2 / (btf.tf + 1.2 * (1 - 0.75 + 0.75 * bdl.dl / bstats.avgdl))) AS s
  FROM btf JOIN bdf USING(term) JOIN bdl USING(doc_id)
  CROSS JOIN bstats CROSS JOIN n
  GROUP BY btf.doc_id
),
matched AS (
  SELECT COALESCE(tscore.doc_id, bscore.doc_id) AS doc_id,
         COALESCE(tscore.s, 0) + COALESCE(bscore.s, 0) AS score
  FROM tscore FULL OUTER JOIN bscore ON tscore.doc_id = bscore.doc_id
),
r AS (SELECT doc_id, round(score, 6) AS score_r6 FROM matched)
SELECT CAST(row_number() OVER (ORDER BY score_r6 DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(score_r6, 4) AS score_r4
FROM r
QUALIFY row_number() OVER (ORDER BY score_r6 DESC, doc_id) <= {k}
ORDER BY rank
"""


def q_bm25_topk_bool(spark, sf_dir):
    """Boolean query tree (mode='BOOL', query/booltree.py): nested
    AND/OR/NOT composition parsed from the Lucene-ish string grammar and
    scored per BooleanQuery semantics — score = sum of matching clause
    scores; must_not prunes without scoring."""
    return _bm25_engine_results(spark, sf_dir, [BOOL_QUERY], "BOOL", 20)


def _duck_bm25_bool(k: int) -> str:
    """DuckDB twin of BOOL_QUERY: per-term BM25 partials CTE, one CTE per
    boolean clause (join = AND, NOT IN = must_not), FULL OUTER JOIN = OR
    summing matched clause scores."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
qt(term) AS (VALUES ('spark'), ('query'), ('window'), ('join')),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
ts AS (
  SELECT tf.doc_id, tf.term,
         ln((stats.n - dfq.df + 0.5)/(dfq.df + 0.5) + 1.0)
         * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) AS s
  FROM tf JOIN dfq USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
),
c1 AS (
  SELECT a.doc_id, a.s + b.s AS s
  FROM (SELECT doc_id, s FROM ts WHERE term = 'spark') a
  JOIN (SELECT doc_id, s FROM ts WHERE term = 'query') b USING(doc_id)
),
c2 AS (
  SELECT doc_id, s FROM ts WHERE term = 'window'
  AND doc_id NOT IN (SELECT doc_id FROM ts WHERE term = 'join')
),
matched AS (
  SELECT COALESCE(c1.doc_id, c2.doc_id) AS doc_id,
         COALESCE(c1.s, 0) + COALESCE(c2.s, 0) AS score
  FROM c1 FULL OUTER JOIN c2 ON c1.doc_id = c2.doc_id
),
r AS (SELECT doc_id, round(score, 6) AS score_r6 FROM matched)
SELECT CAST(row_number() OVER (ORDER BY score_r6 DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(score_r6, 4) AS score_r4
FROM r
QUALIFY row_number() OVER (ORDER BY score_r6 DESC, doc_id) <= {k}
ORDER BY rank
"""


def q_bm25_topk_near_unordered(spark, sf_dir):
    """NEAR/3 unordered proximity (Lucene SpanNear ordered=false): 'join'
    and 'key' in EITHER order within a window of 4 — a strict superset of
    the ordered match set, scored identically."""
    return _bm25_engine_results(
        spark, sf_dir, BM25_PHRASE, "NEAR", 20, slop=3, ordered=False
    )


def q_bm25_count(spark, sf_dir):
    """track_total_hits analog (search(count_only=True)): exact match
    counts per query — OR, AND, and a zero-match query reporting 0 — with
    no scoring and no top-k merge."""
    import pandas as pd

    from invoicenet_spark.query.exec import load_index, search

    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure cache
    index = load_index(spark, _INDEX_CACHE[(sf_dir,)])
    q = pd.DataFrame(
        [
            {"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 1},
            {"query_id": 2, "terms": list(BM25_AND_TERMS), "mode": "AND", "k": 1},
            {"query_id": 3, "terms": ["zzznotindictionary"], "mode": "OR", "k": 1},
        ]
    )
    return search(spark, index, q, count_only=True)


def q_bm25_sorted_by_source(spark, sf_dir):
    """Sort-by-field (exec.top_by_field, the ES `sort` clause analog): the
    OR query's FULL match set ranked by the documents table's `source`
    column (desc, doc_id tiebreak) instead of relevance."""
    import pandas as pd

    from invoicenet_spark.query.exec import load_index, search, top_by_field

    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure cache
    index = load_index(spark, _INDEX_CACHE[(sf_dir,)])
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 100000}]
    )
    matches = search(spark, index, q).select(
        "query_id", F.col("url").cast("long").alias("doc_id")
    )
    meta = _docs(spark, sf_dir).select("doc_id", "source")
    return top_by_field(matches, meta, "source", k=20).select(
        F.col("rank").cast("long").alias("rank"), "doc_id", "source"
    )


def q_bm25_facet_source(spark, sf_dir):
    """Facet counts over the FULL match set of the OR query, by the
    documents table's `source` field (exec.facet_counts)."""
    import pandas as pd

    from invoicenet_spark.query.exec import facet_counts, load_index, search

    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure cache
    index = load_index(spark, _INDEX_CACHE[(sf_dir,)])
    q = pd.DataFrame(
        [{"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 100000}]
    )
    res = search(spark, index, q).select(
        "query_id", F.col("url").cast("long").alias("doc_id")
    )
    meta = _docs(spark, sf_dir).select("doc_id", "source")
    return facet_counts(res, meta, "source").select("source", "n_docs")


def q_bm25_topk_filtered(spark, sf_dir):
    """ES filter context (search(doc_filter=(meta, pred))): the OR query
    restricted to docs whose metadata satisfies _FILTER_PRED_SQL (even
    sources — half the corpus). The filter excludes docs BEFORE per-shard
    top-k (excluded docs never occupy k slots) and never contributes to
    the score; corpus stats (N/avgdl/idf) stay index-wide, exactly like
    Lucene filter clauses."""
    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure cache
    from invoicenet_spark.query.exec import load_index

    root = _INDEX_CACHE[(sf_dir,)]
    index = load_index(spark, root)
    # meta keyed by the ENGINE's doc_id: index.docs carries (doc_id, url)
    # and url round-trips the original documents.doc_id
    meta = index.docs.select("doc_id", "url").join(
        _docs(spark, sf_dir).select(
            F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("url"), "source"
        ),
        "url",
    )
    return _ranked_from_index(
        spark, root, BM25_QUERY_TERMS, "OR", 20,
        doc_filter=(meta, _FILTER_PRED_SQL),
    )


def q_bm25_topk_fuzzy(spark, sf_dir):
    """FUZZY query: misspelled terms expand to dictionary terms within one
    Levenshtein edit ('quary' -> query, 'windoq' -> window) and score as
    OR over the expansion."""
    return _bm25_engine_results(
        spark, sf_dir, ["quary", "windoq"], "FUZZY", 20, max_edits=1
    )


def q_bm25_federated(spark, sf_dir):
    """Federated search over two crawl-segment indexes (doc_id halves) with
    union-corpus statistics (dfs_query_then_fetch) — result must equal one
    index over the whole corpus, so the oracle is the plain corpus BM25."""
    return _federated_ranked(spark, sf_dir, BM25_QUERY_TERMS, "OR", 20)


def q_bm25_federated_pruned(spark, sf_dir):
    """Federated search with a time window covering only the second
    segment: whole-segment pruning (the 3-year-archive/last-month shape),
    scores from the surviving corpus' statistics."""
    return _federated_ranked(spark, sf_dir, BM25_QUERY_TERMS, "OR", 20, pruned=True)


def q_bm25_topk_wildcard(spark, sf_dir):
    """WILDCARD query mode (Lucene WildcardQuery): `w?ndow` and `t*e`
    expand against the dictionary (`?` one char, `*` any run, full match)
    and rewrite to OR — the oracle states the same anchored regexes over
    the distinct corpus terms."""
    return _bm25_engine_results(spark, sf_dir, ["w?ndow", "t*e"], "WILDCARD", 20)


def q_bm25_topk_synonyms(spark, sf_dir):
    """Query-time synonyms on an AND query: `window` expands to its
    synonym group (window|table), so the query matches any form of every
    concept — AND-of-disjunction-groups on the tree pipeline, scored as
    the sum over ALL matched query terms. Oracle: per-group EXISTS in the
    HAVING clause over the standard BM25 CTE."""
    return _bm25_engine_results(
        spark, sf_dir, ["window", "row"], "AND", 20,
        synonyms={"window": ["table"]},
    )


def q_bm25_topk_page2(spark, sf_dir):
    """search_after pagination: page 2 (results 21-40) fetched with the
    cursor (score, doc_id) of page 1's last row — the oracle re-derives
    the same window as ranks 21-40 of the full ordering."""
    import pandas as pd

    from invoicenet_spark.query.exec import load_index, search

    _bm25_engine_results(spark, sf_dir, BM25_QUERY_TERMS, "OR", 1)  # ensure cache
    index = load_index(spark, _INDEX_CACHE[(sf_dir,)])
    q1 = pd.DataFrame(
        [{"query_id": 1, "terms": list(BM25_QUERY_TERMS), "mode": "OR", "k": 20}]
    )
    p1 = search(spark, index, q1).toPandas()
    cur = p1.iloc[-1]
    return _ranked_from_index(
        spark,
        _INDEX_CACHE[(sf_dir,)],
        BM25_QUERY_TERMS,
        "OR",
        20,
        after_score=float(cur["score"]),
        after_doc=int(cur["doc_id"]),
    )


def q_bm25_topk_boost(spark, sf_dir):
    """Per-term boosts (`term^2.5` syntax): boost scales the term's idf, so
    its score contribution is linear in the boost on both query paths."""
    return _bm25_engine_results(
        spark, sf_dir, ["spark^2", "query", "window^0.5"], "OR", 20
    )


def q_bm25_topk_deleted(spark, sf_dir):
    """Tombstone masking (index/deletes.py): docs matching _DELETE_PRED_SQL
    are deleted (no purge) — stats stay as-built, ranking excludes them."""
    return _bm25_deleted_results(
        spark, sf_dir, BM25_QUERY_TERMS, "OR", 20, purged=False
    )


def q_bm25_topk_purged(spark, sf_dir):
    """Physical purge (compact_index purge_deletes): victims rewritten out of
    postings+docs, N/avgdl/df re-derived over survivors before querying."""
    return _bm25_deleted_results(
        spark, sf_dir, BM25_QUERY_TERMS, "OR", 20, purged=True
    )


def q_substring_search(spark, sf_dir):
    """P6/F8: case-insensitive contains."""
    return (
        _docs(spark, sf_dir)
        .where(F.lower(F.col("text")).contains("window"))
        .select("doc_id")
    )


def q_ngram_counts(spark, sf_dir):
    """T2/T3: 1..2-gram candidate generation, counts of repeated grams."""
    d = _docs(spark, sf_dir).select(F.explode(ngrams_col("text", 2)).alias("gram"))
    return (
        d.groupBy("gram").agg(F.count("*").alias("n")).where(F.col("n") >= 50)
    )


def q_amount_normalize(spark, sf_dir):
    """F5/F6: canonical amounts from golden raw strings."""
    df = spark.createDataFrame([(r,) for r in AMOUNT_RAWS], ["raw"])
    return df.select("raw", normalize_amount("raw").alias("amount_norm"))


def q_date_normalize(spark, sf_dir):
    """F7: canonical MM-dd-yyyy over orders.o_orderdate."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return orders.select(
        "o_orderkey", normalize_date("o_orderdate").alias("date_norm")
    )


def q_pattern_hash(spark, sf_dir):
    """H2: char-class abstraction over part names."""
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    return part.select("p_partkey", pattern_hash_class("p_name").alias("pattern"))


def q_dedup_exact(spark, sf_dir):
    """Dedup (exact): fingerprint groupBy, min doc_id per group."""
    return dedup.exact_dedup(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    """Doc fingerprinting (md5 of canonicalized text)."""
    return _docs(spark, sf_dir).select(
        "doc_id", text_analysis.fingerprint("text").alias("fp")
    )


def q_jaccard_pairs(spark, sf_dir):
    """Dedup (n-gram Jaccard): all pairs ≥ 0.12 via shared-shingle join."""
    return dedup.jaccard_pairs(_docs(spark, sf_dir), threshold=0.12)


def q_minhash_lsh(spark, sf_dir):
    """Dedup (MinHash+LSH): banded candidates + Jaccard verified on the
    candidate pairs ONLY (never the all-pairs join). md5-derived minhashes →
    exact DuckDB oracle."""
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.12)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: the MinHash-LSH pair graph collapsed to
    connected components (label propagation to the component-minimum id,
    ops/dedup.duplicate_clusters) — total assignment: every document gets
    a cluster_id (= its component's min doc_id; singletons label
    themselves). The keep-one-representative step every corpus dedup
    pipeline ends with."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.12).select("id_a", "id_b")
    return dedup.duplicate_clusters(pairs, all_ids=docs.select("doc_id")).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_simhash(spark, sf_dir):
    """Dedup (SimHash): 60-bit tf-weighted sign signatures (md5-derived bit
    source → exact DuckDB oracle)."""
    return dedup.simhash_signatures(_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    """Token counting: whitespace and BPE-ish regex counts per doc."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        text_analysis.token_count_ws("text").cast("long").alias("n_ws"),
        text_analysis.token_count_bpe_ish("text").cast("long").alias("n_bpe"),
    )


def q_lang_id(spark, sf_dir):
    """Language ID (stopword-ratio heuristic) vs the labeled lang column."""
    return _docs(spark, sf_dir).select(
        "doc_id", text_analysis.lang_id_expr("text").alias("lang_pred")
    )


def q_quality_score(spark, sf_dir):
    """Quality scoring: length/alpha/word-length heuristic."""
    return _docs(spark, sf_dir).select(
        "doc_id", text_analysis.quality_score("text").alias("q_score")
    )


def q_binary_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + typed metadata."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
    )


def q_ann_cosine_topk(spark, sf_dir):
    """Similarity search: exact cosine top-10 to the vec_id=0 embedding."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # collect the one query vector and score against an inline literal — a
    # missing query vector fails loudly instead of scoring nothing (the
    # broadcast crossJoin shape returned an empty result then, and measured
    # ~11% slower). cosine_col casts elementwise to double either way.
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        raise ValueError(f"{sf_dir}: embeddings table has no vec_id=0 query vector")
    qvec = F.array(*[F.lit(float(x)) for x in qrow["embedding"]])
    scored = emb.where(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(similarity.cosine_col(F.col("embedding"), qvec), 6).alias("cos_r6"),
    )
    # TakeOrderedAndProject cap, then rank the 10 survivors (total order →
    # identical ranks, no full-corpus single-partition WindowExec)
    top = scored.orderBy(F.col("cos_r6").desc(), F.col("vec_id").asc()).limit(10)
    w = Window.orderBy(F.col("cos_r6").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "vec_id", "cos_r6"
    )


_IVF_CACHE: dict = {}


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN (ops/similarity.build_ivf_index: spherical-k-means coarse
    quantizer, corpus partitioned by nearest-centroid cell): top-10 to the
    vec_id=0 embedding probing ALL cells. Cells PARTITION the corpus, so a
    full probe is exact cosine by construction — the invariant this oracle
    pins is the build round-trip (no vector lost, duplicated, or altered
    by the cell write; probes ride the cell partition filter). Recall at
    n_probes < n_centroids is the measured contract in
    BENCH/IVF_RECALL.json."""
    import json

    import numpy as np

    if sf_dir not in _IVF_CACHE:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        out = tempfile.mkdtemp(prefix="ivf_idx_")
        similarity.build_ivf_index(emb, out, n_centroids=32)
        _IVF_CACHE[sf_dir] = out
    root = _IVF_CACHE[sf_dir]
    with open(os.path.join(root, "ivf_meta.json")) as f:
        meta = json.load(f)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    cells = similarity.ivf_probe_cells(
        qvec, np.asarray(meta["centroids"], dtype=float), n_probes=meta["n_centroids"]
    )
    cand = spark.read.parquet(os.path.join(root, "vectors")).where(
        F.col("cell").isin(cells) & (F.col("vec_id") != 0)
    )
    scored = cand.select(
        "vec_id",
        F.round(
            similarity.cosine_col(
                F.col("embedding"), F.array(*[F.lit(x) for x in qvec])
            ),
            6,
        ).alias("cos_r6"),
    )
    top = scored.orderBy(F.col("cos_r6").desc(), F.col("vec_id").asc()).limit(10)
    w = Window.orderBy(F.col("cos_r6").desc(), F.col("vec_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "vec_id", "cos_r6"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact all-pairs twin; the scale
    path blocks with multi-table LSH first — ops/similarity.py
    lsh_candidate_pairs, recall contract in BENCH/ANN_RECALL.json)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return similarity.cosine_near_dup_pairs(emb, threshold=0.45)


def q_tpch_q1(spark, sf_dir):
    """Generic agg parity (A1/A2 partial+final agg): TPC-H Q1 shape."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


def q_sessionize(spark, sf_dir):
    """§2.10 sessionization (batch twin of the applyInPandasWithState
    stateful operator): 30-min-gap sessions per user over events."""
    from invoicenet_spark.streaming.windows import sessionize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = sessionize(ev, gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        "session_start",
        "session_end",
        "n_events",
        "total_value",
    )


def q_events_window(spark, sf_dir):
    """Streaming-analog tumbling-window agg (§2.10) with P4 sanity filter."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.where(F.col("ts") <= F.lit("2025-01-01"))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


# --------------------------------------------------- relational operators --
VOCAB_BRANDS = ["Brand#11", "Brand#22", "Brand#33", "Brand#44"]
NN_PROBES = [100.0, 500.0, 1000.0, 1500.0]
MERGE_FIELDS = {"p_brand": "", "p_missing": "N/A"}


def q_vocab_unk(spark, sf_dir):
    """H3: bounded vocab with UNK over part brands."""
    from invoicenet_spark.operators.relational import bounded_vocab_lookup

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    return bounded_vocab_lookup(part, "p_brand", VOCAB_BRANDS).select(
        "p_partkey", "token_id"
    )


def q_train_val_split(spark, sf_dir):
    """E2: deterministic split — md5-prefix bucket (reproducible in SQL)."""
    d = _docs(spark, sf_dir)
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.select(
        "doc_id",
        F.when(first.isin("0", "1", "2"), F.lit("val")).otherwise(F.lit("train")).alias(
            "split"
        ),
    )


def q_nearest_1d(spark, sf_dir):
    """J5/K2: per probe value, the part with nearest retail price (argmin)."""
    from invoicenet_spark.operators.relational import nearest_neighbor_1d

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    probes = spark.createDataFrame(
        [(i, v) for i, v in enumerate(NN_PROBES)], ["probe_id", "probe"]
    )
    out = nearest_neighbor_1d(
        part.select("p_partkey", "p_retailprice"),
        probes,
        "p_retailprice",
        "probe",
        "p_partkey",
        "probe_id",
    )
    return out.select(
        F.col("probe_id").cast("long").alias("probe_id"),
        "p_partkey",
        F.round("dist", 4).alias("dist_r4"),
    )


def q_masked_mean(spark, sf_dir):
    """A4: sum(x*mask)/sum(mask) over lineitem (mask = returned rows)."""
    from invoicenet_spark.operators.relational import masked_mean

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = masked_mean(li, "l_extendedprice", F.col("l_returnflag") == "R")
    return out.select(F.round("masked_mean", 4).alias("masked_mean_r4"), "n_unmasked")


def q_running_best(spark, sf_dir):
    """A5: best-so-far + improvement flags over the events stream."""
    from invoicenet_spark.operators.relational import running_best

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).where(
        F.col("event_id") < 1000
    )
    out = running_best(ev.select("event_id", "value"), "event_id", "value")
    return out.select(
        "event_id", F.round("best_so_far", 2).alias("best_r2"), "is_improvement"
    )


def q_merge_lww(spark, sf_dir):
    """E3: last-writer-wins union merge (MERGE INTO emulation)."""
    from invoicenet_spark.operators.relational import union_merge_last_writer_wins

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    old = orders.select("o_orderkey", "o_totalprice", F.lit(1).alias("version"))
    new = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .select("o_orderkey", (F.col("o_totalprice") + 1).alias("o_totalprice"),
                F.lit(2).alias("version"))
    )
    out = union_merge_last_writer_wins(old, new, "o_orderkey", "version")
    return out.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("price_r2"), "version"
    )


def q_project_defaults(spark, sf_dir):
    """P3: project onto a field registry with defaults for absent fields."""
    from invoicenet_spark.operators.relational import project_with_defaults

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    out = project_with_defaults(part, MERGE_FIELDS)
    return out.groupBy("p_brand", "p_missing").agg(F.count("*").alias("n"))


def q_word_hash(spark, sf_dir):
    """H1: bounded 16-bit word hash (md5-based, engine-portable)."""
    from invoicenet_spark.functions.chars import word_hash_16

    return _toks(spark, sf_dir).distinct().select(
        "term", word_hash_16("term").alias("word_hash")
    ).distinct()


def q_date_extract(spark, sf_dir):
    """F2: first date found in a string, canonical MM-dd-yyyy."""
    from invoicenet_spark.functions.chars import find_first_date

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    txt = F.concat(
        F.lit("order placed "), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit(" priority "), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey", find_first_date(txt).alias("date_found")
    )


def q_date_extract_text(spark, sf_dir):
    """F2 breadth: first date in free text across 11 surface formats (ISO,
    US slash, EU dot, month-name long/short, 2-digit year, yyyy/M/d,
    yyyy.M.d, ordinal day "5th Jan 2023", dotted month "Jan. 5, 2023",
    dashed month-name "5-Jan-23" — the datefinder tail of
    /root/reference/invoicenet/parsing/date_generator.py:31-78, restricted
    to its deterministically-parseable forms) + P4 gate. The oracle is
    GROUND TRUTH (strftime of the source date), so a hash match means
    extraction is exact on every format."""
    from invoicenet_spark.functions.chars import find_first_date

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    d, key = F.col("o_orderdate"), F.col("o_orderkey")
    v = key % 11
    dom = F.dayofmonth(d)
    suffix = (
        F.when(dom.isin(11, 12, 13), F.lit("th"))
        .when(dom % 10 == 1, F.lit("st"))
        .when(dom % 10 == 2, F.lit("nd"))
        .when(dom % 10 == 3, F.lit("rd"))
        .otherwise(F.lit("th"))
    )
    txt = F.concat(
        F.lit("invoice issued "),
        F.when(v == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(v == 1, F.date_format(d, "M/d/yyyy"))
        .when(v == 2, F.date_format(d, "d.M.yyyy"))
        .when(v == 3, F.date_format(d, "MMM d, yyyy"))
        .when(v == 4, F.date_format(d, "d MMMM yyyy"))
        .when(v == 5, F.date_format(d, "M/d/yy"))
        .when(v == 6, F.date_format(d, "yyyy/M/d"))
        .when(
            v == 7,  # ordinal day: "5th Jan 2023"
            F.concat(dom.cast("string"), suffix, F.lit(" "), F.date_format(d, "MMM yyyy")),
        )
        .when(
            v == 8,  # dotted month abbreviation: "Jan. 5, 2023"
            F.concat(
                F.date_format(d, "MMM"), F.lit(". "), dom.cast("string"),
                F.lit(", "), F.date_format(d, "yyyy"),
            )
        )
        .when(v == 9, F.date_format(d, "yyyy.M.d"))
        .otherwise(F.date_format(d, "d-MMM-yy")),  # "5-Jan-23"
        F.lit(" due upon receipt"),
    )
    return orders.select("o_orderkey", find_first_date(txt).alias("date_found"))


def q_candidate_routing(spark, sf_dir):
    """P5: route each token to at most one type (date wins over amount),
    normalized value per type; None for junk/future dates."""
    from invoicenet_spark.functions.normalize import route_candidate

    df = spark.createDataFrame([(r,) for r in ROUTE_RAWS], ["raw"])
    r = route_candidate("raw")
    return df.select(
        "raw", r["cand_type"].alias("cand_type"), r["value_norm"].alias("value_norm")
    )


def q_line_segments(spark, sf_dir):
    """T1 analog: sentence/paragraph line segmentation with line ordinals."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", F.posexplode(text_analysis.line_segments("text")).alias("line_no", "line")
    ).select("doc_id", F.col("line_no").cast("long").alias("line_no"), "line")


def q_find_amounts(spark, sf_dir):
    """F1+F3: regex find-all amounts + dedupe, exploded."""
    from invoicenet_spark.functions.normalize import find_amounts

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        F.col("l_orderkey") < 1000
    )
    txt = F.concat(
        F.lit("pay "), F.round("l_extendedprice", 2).cast("string"),
        F.lit(" plus "), F.round("l_extendedprice", 2).cast("string"),
        F.lit(" fee 1,000.50"),
    )
    d = li.select("l_orderkey", "l_linenumber", txt.alias("s"))
    return d.select(
        "l_orderkey", "l_linenumber", F.explode(find_amounts("s")).alias("amount")
    )


QUERIES = {
    "term_counts": q_term_counts,
    "doc_freq": q_doc_freq,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "bm25_topk_or": q_bm25_topk_or,
    "bm25_local_topk": q_bm25_local_topk,
    "bm25_topk_and": q_bm25_topk_and,
    "bm25_phrase": q_bm25_phrase,
    "bm25_topk_deleted": q_bm25_topk_deleted,
    "bm25_topk_purged": q_bm25_topk_purged,
    "bm25_topk_not": q_bm25_topk_not,
    "bm25_topk_msm": q_bm25_topk_msm,
    "bm25_topk_prefix": q_bm25_topk_prefix,
    "bm25_topk_boost": q_bm25_topk_boost,
    "bm25_topk_near": q_bm25_topk_near,
    "bm25_topk_near_unordered": q_bm25_topk_near_unordered,
    "bm25_topk_bool": q_bm25_topk_bool,
    "bm25_topk_fielded": q_bm25_topk_fielded,
    "bm25_count": q_bm25_count,
    "bm25_sorted_by_source": q_bm25_sorted_by_source,
    "bm25_topk_page2": q_bm25_topk_page2,
    "bm25_facet_source": q_bm25_facet_source,
    "bm25_topk_filtered": q_bm25_topk_filtered,
    "bm25_topk_fuzzy": q_bm25_topk_fuzzy,
    "bm25_topk_wildcard": q_bm25_topk_wildcard,
    "bm25_topk_synonyms": q_bm25_topk_synonyms,
    "bm25_federated": q_bm25_federated,
    "bm25_federated_pruned": q_bm25_federated_pruned,
    "bm25_analyzed": q_bm25_analyzed,
    "bm25_date_histogram": q_bm25_date_histogram,
    "substring_search": q_substring_search,
    "ngram_counts": q_ngram_counts,
    "amount_normalize": q_amount_normalize,
    "date_normalize": q_date_normalize,
    "pattern_hash": q_pattern_hash,
    "dedup_exact": q_dedup_exact,
    "fingerprint": q_fingerprint,
    "jaccard_pairs": q_jaccard_pairs,
    "minhash_lsh": q_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "simhash": q_simhash,
    "token_counts": q_token_counts,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "binary_meta": q_binary_meta,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "tpch_q1": q_tpch_q1,
    "events_window": q_events_window,
    "sessionize": q_sessionize,
    "vocab_unk": q_vocab_unk,
    "train_val_split": q_train_val_split,
    "nearest_1d": q_nearest_1d,
    "masked_mean": q_masked_mean,
    "running_best": q_running_best,
    "merge_lww": q_merge_lww,
    "project_defaults": q_project_defaults,
    "find_amounts": q_find_amounts,
    "word_hash": q_word_hash,
    "date_extract": q_date_extract,
    "date_extract_text": q_date_extract_text,
    "candidate_routing": q_candidate_routing,
    "line_segments": q_line_segments,
}

_AMOUNT_VALUES = ", ".join(f"('{r}')" for r in AMOUNT_RAWS)

_DUCK_SHINGLES = """
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(ts) - 1, 1)),
           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS shingle
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
        FROM documents)
"""

ORACLE_SQL = {
    "term_counts": f"SELECT term, count(*) AS n_occ FROM ({_DUCK_TOKS}) GROUP BY term",
    "doc_freq": (
        f"SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM ({_DUCK_TOKS}))"
        " GROUP BY term"
    ),
    "doc_stats": (
        "SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
        " t -> t <> '')) AS BIGINT) AS doc_len FROM documents"
    ),
    "corpus_stats": (
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, round(avg(dl), 6) AS avgdl_r6 FROM ("
        "SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> ''))"
        " AS dl FROM documents WHERE lang = 'en')"
    ),
    "bm25_topk_or": _duck_bm25(BM25_QUERY_TERMS, "OR", 20),
    "bm25_local_topk": _duck_bm25(BM25_QUERY_TERMS, "OR", 20),
    "bm25_topk_and": _duck_bm25(BM25_AND_TERMS, "AND", 20),
    "bm25_phrase": _duck_bm25(BM25_PHRASE, "PHRASE", 20),
    "bm25_topk_deleted": _duck_bm25(BM25_QUERY_TERMS, "OR", 20, deleted="masked"),
    "bm25_topk_purged": _duck_bm25(BM25_QUERY_TERMS, "OR", 20, deleted="purged"),
    "bm25_topk_not": _duck_bm25(BM25_QUERY_TERMS, "OR", 20, neg_terms=["join"]),
    "bm25_topk_msm": _duck_bm25(BM25_MSM_TERMS, "OR", 20, min_match=3),
    "bm25_topk_prefix": _duck_bm25(["s"], "OR", 20, prefix=True),
    "bm25_topk_boost": _duck_bm25(
        BM25_QUERY_TERMS, "OR", 20, boosts={"spark": 2.0, "window": 0.5}
    ),
    "bm25_topk_near": _duck_bm25(BM25_PHRASE, "OR", 20, near_slop=3),
    "bm25_topk_near_unordered": _duck_bm25(
        BM25_PHRASE, "OR", 20, near_slop=3, near_unordered=True
    ),
    "bm25_topk_bool": _duck_bm25_bool(20),
    "bm25_topk_fielded": _duck_bm25_fielded(BM25_QUERY_TERMS, 20),
    "bm25_count": f"""
WITH toks AS ({_DUCK_TOKS.replace("FROM documents", "FROM documents WHERE lang = 'en'")})
SELECT CAST(1 AS BIGINT) AS query_id,
       (SELECT count(DISTINCT doc_id) FROM toks
        WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})) AS total_hits
UNION ALL
SELECT CAST(2 AS BIGINT),
       (SELECT count(*) FROM (
          SELECT doc_id FROM toks
          WHERE term IN ({", ".join(f"'{t}'" for t in BM25_AND_TERMS)})
          GROUP BY doc_id HAVING count(DISTINCT term) = {len(BM25_AND_TERMS)}))
UNION ALL
SELECT CAST(3 AS BIGINT), CAST(0 AS BIGINT)
ORDER BY query_id
""",
    "bm25_sorted_by_source": f"""
WITH toks AS ({_DUCK_TOKS.replace("FROM documents", "FROM documents WHERE lang = 'en'")}),
matched AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
)
SELECT CAST(row_number() OVER (ORDER BY d.source DESC, matched.doc_id) AS BIGINT) AS rank,
       matched.doc_id, d.source
FROM matched JOIN documents d USING (doc_id)
QUALIFY rank <= 20
ORDER BY rank
""",
    "bm25_topk_page2": _duck_bm25(BM25_QUERY_TERMS, "OR", 20, page_offset=20),
    "bm25_topk_filtered": _duck_bm25(
        BM25_QUERY_TERMS, "OR", 20, filter_pred=_FILTER_PRED_SQL
    ),
    "bm25_topk_fuzzy": _duck_bm25(["quary", "windoq"], "OR", 20, fuzzy_edits=1),
    # wildcard rewrite: w?ndow / t*e as anchored full-match regexes
    "bm25_topk_wildcard": _duck_bm25(
        [], "OR", 20, regex_full=["w.ndow", "t.*e"]
    ),
    # synonyms on AND: (window|table) AND row — candidates need one term
    # from EVERY group (per-group EXISTS in HAVING), score sums ALL
    # matched query terms
    "bm25_topk_synonyms": """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
qt(term, boost) AS (VALUES ('window', 1.0), ('table', 1.0), ('row', 1.0)),
tf AS (
  SELECT term, doc_id, count(*) AS tf FROM toks
  WHERE term IN (SELECT term FROM qt) GROUP BY term, doc_id
),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( qt.boost * ln((stats.n - dfq.df + 0.5)/(dfq.df + 0.5) + 1.0)
              * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf JOIN dfq USING(term) JOIN qt USING(term) JOIN dl USING(doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
  HAVING count(DISTINCT CASE WHEN term IN ('window', 'table') THEN term END) >= 1
     AND count(DISTINCT CASE WHEN term = 'row' THEN term END) >= 1
),
r AS (SELECT doc_id, round(score, 6) AS score_r6 FROM scored)
SELECT CAST(row_number() OVER (ORDER BY score_r6 DESC, doc_id) AS BIGINT) AS rank,
       doc_id, round(score_r6, 4) AS score_r4
FROM r
QUALIFY row_number() OVER (ORDER BY score_r6 DESC, doc_id) <= 20
ORDER BY rank
""",
    # federation with union statistics == one index over the union corpus
    "bm25_federated": _duck_bm25(BM25_QUERY_TERMS, "OR", 20),
    # time window keeps only the doc_id > max/2 segment: corpus, stats and
    # df all restrict to the surviving segment
    "bm25_federated_pruned": _duck_bm25(
        BM25_QUERY_TERMS, "OR", 20,
        corpus_pred="doc_id > (SELECT CAST(floor(max(doc_id)/2) AS BIGINT) FROM documents)",
    ),
    # analyzer chain: corpus toks run the stop+stem chain in SQL; the query
    # constants are the ANALYZED forms of the engine's plural/stopword
    # surfaces ('windows^2 tables the' → window^2, table; 'the' elides)
    "bm25_analyzed": _duck_bm25(
        ["window", "table"], "OR", 20, boosts={"window": 2.0}, analyzed=True
    ),
    # date_histogram: hourly buckets (epoch seconds) of every doc matching
    # the OR query; warc_ts = epoch + doc_id*997 seconds by the fixture formula
    "bm25_date_histogram": f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'
),
m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
)
SELECT CAST((({_FED_EPOCH} + doc_id * 997) // 3600) * 3600 AS BIGINT) AS bucket_s,
       count(*) AS n_docs
FROM m GROUP BY 1 ORDER BY 1
""",
    # facet over the FULL OR match set == docs containing any query term
    "bm25_facet_source": f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         t -> t <> '')) AS term
  FROM documents WHERE lang = 'en'
),
m AS (SELECT DISTINCT doc_id FROM toks
      WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)}))
SELECT d.source AS source, count(*) AS n_docs
FROM m JOIN documents d USING(doc_id) GROUP BY d.source
""",
    "substring_search": (
        "SELECT doc_id FROM documents WHERE contains(lower(text), 'window')"
    ),
    "ngram_counts": """
        WITH t AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '') AS ts FROM documents),
        grams AS (
          SELECT unnest(list_concat(
            ts,
            list_transform(range(1, greatest(len(ts), 1)), i -> ts[i] || ' ' || ts[i+1])
          )) AS gram FROM t
        )
        SELECT gram, count(*) AS n FROM grams GROUP BY gram HAVING count(*) >= 50
    """,
    "amount_normalize": (
        "SELECT raw, CAST(CAST(floor(CAST("
        r" CASE WHEN regexp_matches(raw, '^\d{1,3}(\.\d{3})*,\d{1,2}$|^\d+,\d{1,2}$')"
        "      THEN replace(replace(raw, '.', ''), ',', '.')"
        "      ELSE replace(raw, ',', '') END"
        " AS DECIMAL(28,10)) * 100) / 100 AS DECIMAL(18,2)) AS VARCHAR) AS amount_norm"
        f" FROM (VALUES {_AMOUNT_VALUES}) v(raw)"
    ),
    "date_normalize": (
        "SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS date_norm FROM orders"
    ),
    "pattern_hash": (
        "SELECT p_partkey, regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "p_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', '0', 'g'),"
        " '[^Xx0]', '-', 'g') AS pattern FROM part"
    ),
    "dedup_exact": (
        "SELECT min(doc_id) AS doc_id,"
        " md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,"
        " count(*) AS n_copies FROM documents GROUP BY 2"
    ),
    "fingerprint": (
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp"
        " FROM documents"
    ),
    "jaccard_pairs": f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
    """,
    "token_counts": (
        "SELECT doc_id,"
        " CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT)"
        " AS n_ws,"
        " CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT)"
        " AS n_bpe FROM documents"
    ),
    "binary_meta": (
        "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents"
    ),
    "quality_score": """
        SELECT doc_id, round(
          (CASE WHEN len(text) BETWEEN 100 AND 20000 THEN 0.4 ELSE 0.0 END)
          + (CASE WHEN alpha * 1.0 / n_toks BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
          + (alpha * 1.0 / greatest(len(text), 1)) * 0.3, 4) AS q_score
        FROM (
          SELECT doc_id, text,
            len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
            greatest(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '')), 1) AS n_toks
          FROM documents)
    """,
    "lang_id": None,  # filled below (long stopword SQL)
    "ann_cosine_topk": """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                              CAST(qv AS DOUBLE[])), 6) AS cos_r6
          FROM embeddings, q WHERE vec_id <> 0
        )
        SELECT CAST(row_number() OVER (ORDER BY cos_r6 DESC, vec_id) AS BIGINT) AS rank,
               vec_id, cos_r6
        FROM scored QUALIFY rank <= 10 ORDER BY rank
    """,
    "embedding_near_dup": """
        WITH scored AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])), 6) AS cos_r6
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cos_r6 FROM scored WHERE cos_r6 >= 0.45
    """,
    "tpch_q1": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,"
        " round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,"
        " count(*) AS n_rows FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
        " GROUP BY l_returnflag, l_linestatus"
    ),
    "events_window": (
        "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,"
        " round(sum(value), 2) AS total FROM events WHERE ts <= TIMESTAMP '2025-01-01'"
        " GROUP BY 1, 2"
    ),
    "sessionize": """
        WITH ordered AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 30 * 60
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
          FROM ordered
        )
        SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
               min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM sess GROUP BY user_id, session_no
    """,
}


def _minhash_lsh_sql(
    num_perm: int = 16, bands: int = 4, threshold: float = 0.12,
    pairs_only: bool = False,
) -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs (md5-derived 60-bit minhashes,
    '_'-joined band keys, Jaccard computed on candidate pairs only)."""
    rows = num_perm // bands
    h_exprs = ",\n        ".join(
        f"min(CAST('0x' || substr(md5('{i}:' || shingle), 1, 15) AS BIGINT)) AS h{i}"
        for i in range(num_perm)
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cc} AS bh FROM mh".format(
            b=bi,
            cc=" || '_' || ".join(
                f"CAST(h{bi * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for bi in range(bands)
    )
    return f"""
        WITH sh AS ({_DUCK_SHINGLES}),
        mh AS (SELECT doc_id, {h_exprs} FROM sh GROUP BY doc_id),
        bands AS ({band_selects}),
        cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b{", round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard" if not pairs_only else ""}
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
    """


ORACLE_SQL["minhash_lsh"] = _minhash_lsh_sql()

# connected components: transitive closure (recursive CTE) over the SAME
# pair query, label = min reachable id; singletons label themselves
ORACLE_SQL["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({_minhash_lsh_sql(pairs_only=True)}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
"""

ORACLE_SQL["simhash"] = f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf,
             CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
      FROM ({_DUCK_TOKS}) GROUP BY doc_id, term
    ),
    votes AS (
      SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN tf ELSE -tf END) AS v
      FROM tf CROSS JOIN (SELECT unnest(range(0, 60)) AS i) bits
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""


def _lang_id_sql() -> str:
    ratios = []
    for lang, sw in text_analysis.STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in sw)
        ratios.append(
            f"len(list_filter(ts, t -> t IN ({lst}))) * 1.0 / greatest(len(ts), 1) AS r_{lang}"
        )
    # strict '>' fold, right-to-left, mirrors lang_id_expr tie-break
    expr = "'unk'"
    best = "0.0"
    for lang in reversed(list(text_analysis.STOPWORDS)):
        expr = f"CASE WHEN r_{lang} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"greatest(r_{lang}, {best})"
    return f"""
        SELECT doc_id, {expr} AS lang_pred FROM (
          SELECT doc_id, {', '.join(ratios)} FROM (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                   t -> t <> '') AS ts FROM documents))
    """


ORACLE_SQL["lang_id"] = _lang_id_sql()

_VOCAB_CASE = " ".join(
    f"WHEN p_brand = '{b}' THEN {i}" for i, b in enumerate(VOCAB_BRANDS, start=1)
)
_NN_VALUES = ", ".join(f"({i}, {v})" for i, v in enumerate(NN_PROBES))

ORACLE_SQL.update(
    {
        "vocab_unk": (
            f"SELECT p_partkey, CAST(CASE {_VOCAB_CASE} ELSE 0 END AS BIGINT) AS token_id"
            " FROM part"
        ),
        "train_val_split": (
            "SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)"
            " IN ('0','1','2') THEN 'val' ELSE 'train' END AS split FROM documents"
        ),
        "nearest_1d": f"""
            WITH probes(probe_id, probe) AS (VALUES {_NN_VALUES})
            SELECT CAST(probe_id AS BIGINT) AS probe_id, p_partkey,
                   round(abs(p_retailprice - probe), 4) AS dist_r4
            FROM probes CROSS JOIN part
            QUALIFY row_number() OVER (
                PARTITION BY probe_id
                ORDER BY abs(p_retailprice - probe) ASC, p_partkey ASC) = 1
        """,
        "masked_mean": (
            "SELECT round(sum(l_extendedprice * m) / sum(m), 4) AS masked_mean_r4,"
            " CAST(sum(m) AS BIGINT) AS n_unmasked FROM ("
            "SELECT l_extendedprice, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS m"
            " FROM lineitem)"
        ),
        "running_best": """
            SELECT event_id,
                   round(min(value) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS best_r2,
                   value < coalesce(min(value) OVER (ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1e308)
                     AS is_improvement
            FROM events WHERE event_id < 1000
        """,
        "merge_lww": """
            WITH old AS (SELECT o_orderkey, o_totalprice, 1 AS version FROM orders),
            new AS (SELECT o_orderkey, o_totalprice + 1 AS o_totalprice, 2 AS version
                    FROM orders WHERE o_orderkey % 10 = 0),
            both_v AS (SELECT * FROM old UNION ALL SELECT * FROM new)
            SELECT o_orderkey, round(o_totalprice, 2) AS price_r2, version FROM both_v
            QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1
        """,
        "project_defaults": (
            "SELECT coalesce(p_brand, '') AS p_brand, 'N/A' AS p_missing,"
            " count(*) AS n FROM part GROUP BY 1, 2"
        ),
        "word_hash": (
            f"SELECT DISTINCT term,"
            " CAST('0x' || substr(md5(term), 25, 8) AS BIGINT) % 65535 + 1 AS word_hash"
            f" FROM (SELECT DISTINCT doc_id, term FROM ({_DUCK_TOKS}))"
        ),
        "date_extract": (
            "SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS date_found"
            " FROM orders"
        ),
        "find_amounts": r"""
            SELECT l_orderkey, l_linenumber,
                   unnest(list_distinct(regexp_extract_all(s, '\d+[,\d]*\.\d+'))) AS amount
            FROM (
              SELECT l_orderkey, l_linenumber,
                     'pay ' || CAST(round(l_extendedprice, 2) AS VARCHAR)
                     || ' plus ' || CAST(round(l_extendedprice, 2) AS VARCHAR)
                     || ' fee 1,000.50' AS s
              FROM lineitem WHERE l_orderkey < 1000)
        """,
    }
)

_ROUTE_VALUES = ", ".join(
    "({}, {}, {})".format(
        f"'{raw}'",
        f"'{t}'" if t is not None else "NULL",
        f"'{v}'" if v is not None else "NULL",
    )
    for raw, t, v in ROUTE_EXPECT
)

ORACLE_SQL.update(
    {
        # Ground-truth oracle: the engine query embeds strftime'd dates in
        # free text and must extract/parse them back exactly.
        "date_extract_text": (
            "SELECT o_orderkey, strftime(o_orderdate, '%m-%d-%Y') AS date_found"
            " FROM orders"
        ),
        # Hand-computed golden expectations for the fixed router inputs.
        "candidate_routing": (
            f"SELECT raw, cand_type, value_norm FROM (VALUES {_ROUTE_VALUES})"
            " v(raw, cand_type, value_norm)"
        ),
        "line_segments": r"""
            SELECT doc_id,
                   CAST(unnest(range(1, len(ls) + 1)) AS BIGINT) - 1 AS line_no,
                   unnest(ls) AS line
            FROM (
              SELECT doc_id,
                     list_filter(list_transform(
                       string_split_regex(text, '[.!?]\s+|\n+'), p -> trim(p)),
                       p -> p <> '') AS ls
              FROM documents)
        """,
    }
)

# full-probe IVF ≡ exact cosine (cells partition the corpus) — same twin
ORACLE_SQL["ann_ivf_topk"] = ORACLE_SQL["ann_cosine_topk"]

ORACLE_SQL = {k: v for k, v in ORACLE_SQL.items() if v is not None}
