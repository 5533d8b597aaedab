"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the full-text inverted index over the
synthetic Common-Crawl-style `pages` corpus and answer the reference query
set with BM25 top-k (the north_rule pipeline), returning the result frame.

``queries()`` / ``oracle_sql()`` — SURVEY.md §2 operators expressed over the
driver testdata at sf_dir (tables: documents, embeddings, lineitem, orders,
…), each with a DuckDB-checkable ANSI-SQL oracle. Column names are aliased
identically on both sides (driver hashes values after sorting by column
name).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: load the sf0.001 documents table, build the positional
    full-text index end-to-end (extraction-path analog with stored text),
    and answer a mixed OR/AND/PHRASE query batch with BM25 top-k.
    Returns (query_id, rank, doc_id, url, score)."""
    import pandas as pd

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.entrypoints import _docs_as_pages
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.exec import load_index, search

    sf_dir = "/root/testdata/sf0.001"
    cfg = EngineConfig(
        shard_size=128, block_size=32, build_partitions=8, with_positions=True
    )
    pages = _docs_as_pages(spark, sf_dir)
    out = os.path.join(tempfile.mkdtemp(prefix="invoicenet_spark_"), "index")
    build_index(spark, pages, out, cfg, use_stored_text=True)
    index = load_index(spark, out)
    queries = pd.DataFrame(
        [
            {"query_id": 1, "terms": ["spark", "query", "window"], "mode": "OR", "k": 10},
            {"query_id": 2, "terms": ["spark", "join"], "mode": "AND", "k": 10},
            {"query_id": 3, "terms": ["join", "key"], "mode": "PHRASE", "k": 10},
            {"query_id": 4, "terms": ["table", "hash"], "mode": "PHRASE", "k": 10},
            {"query_id": 5, "terms": ["data", "value", "row", "scan"], "mode": "OR", "k": 10},
        ]
    )
    return search(spark, index, queries)


# --------------------------------------------------------------------------
# Shared SQL fragments: analyzer semantics must match invoicenet_spark
# (lowercase, split on non-alphanumeric runs, drop empties) — see
# invoicenet_spark/functions/analyzer.py.
_DUCK_TOKENS = (
    "SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " t -> t <> '')) AS term FROM documents"
)


def _spark_tokens(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    from invoicenet_spark.functions.analyzer import tokens_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from invoicenet_spark import entrypoints

    return entrypoints.QUERIES


def oracle_sql() -> dict[str, str]:
    from invoicenet_spark import entrypoints

    return entrypoints.ORACLE_SQL
