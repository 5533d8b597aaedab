"""Physical-plan regression tests (pushdown / broadcast / no stray shuffles)
+ streaming windowed aggregation + skew-bound evidence."""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
from invoicenet_spark.index.build import build_index
from invoicenet_spark.query.exec import load_index, search
from invoicenet_spark.streaming.windows import stream_windowed_counts, windowed_counts

CFG = EngineConfig(shard_size=64, block_size=16, build_partitions=4)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, gen_pages_spark(spark, 250, seed=42, partitions=4), out, CFG)
    return load_index(spark, out)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_query_plan_pushes_term_filter(spark, built):
    """The postings probe must reach the parquet scan as a pushed IN-filter
    — otherwise every query scans the whole index at scale."""
    plan = _plan(search(spark, built, gen_queries(3, seed=42), with_url=False))
    assert "PushedFilters: [In(term_id" in plan, plan[:2000]


def test_query_plan_broadcasts_query_side(spark, built):
    plan = _plan(search(spark, built, gen_queries(3, seed=42), with_url=False))
    assert "BroadcastHashJoin" in plan


def test_bool_query_plan_keeps_pushed_probe(spark, built):
    """Boolean trees ride the SAME pruned probe: leaf term_ids reach the
    postings scan as a pushed IN-filter, and a non-positional BOOL batch
    prunes the position columns from the scan."""
    terms = [r["term"] for r in spark.read.parquet(built.paths.terms).limit(3).collect()]
    q = pd.DataFrame([{
        "query_id": 1, "terms": [f"({terms[0]} AND {terms[1]}) OR {terms[2]}"],
        "mode": "BOOL", "k": 10,
    }])
    plan = _plan(search(spark, built, q, with_url=False))
    assert "PushedFilters: [In(term_id" in plan, plan[:2000]
    assert "pos_blob" not in plan  # no positional leaves -> pruned scan


def test_fielded_query_plan_keeps_pushed_probe(spark, tmp_path):
    """Fielded (BM25F) queries keep the pushed near-point-lookup probe —
    field qualification lives in the dictionary key, not the plan shape."""
    cfg = EngineConfig(
        shard_size=64, block_size=16, build_partitions=4, fields=("title", "body")
    )
    pages = spark.createDataFrame(
        [(f"{i:012d}", f"title {i} spark", f"body text number {i} query spark", "en")
         for i in range(80)],
        "url string, title string, body string, lang string",
    )
    out = str(tmp_path / "fielded_plan_idx")
    build_index(spark, pages, out, cfg, use_stored_text=True)
    idx = load_index(spark, out)
    q = pd.DataFrame([{
        "query_id": 1, "terms": ["spark", "query"], "mode": "OR", "k": 10,
        "fields": {"title": 2.0, "body": 1.0},
    }])
    plan = _plan(search(spark, idx, q, with_url=False))
    assert "PushedFilters: [In(term_id" in plan, plan[:2000]
    assert "pos_blob" not in plan


def test_build_plan_pushes_lang_filter(spark, tmp_path):
    """Language gate must push to the pages scan (column pruning + filter)."""
    pages_path = str(tmp_path / "pages")
    gen_pages_spark(spark, 50, seed=42, partitions=2).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    from invoicenet_spark.index.build import tokens_from_pages

    plan = _plan(tokens_from_pages(pages, CFG))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan[:1500]
    # text never read; warc_ts IS read by design — it becomes the docs
    # table's doc-values column and the stats.json [ts_min, ts_max] range
    # that federated search prunes whole segments by (query/federate.py)
    assert (
        "ReadSchema: struct<url:string,warc_ts:timestamp,html:binary,lang:string>"
        in plan
    ), plan[:1500]


def test_shard_bound_holds(built):
    """Skew evidence: no (term, shard) posting group exceeds shard_size —
    the structural guarantee that defuses Zipfian hot terms (north_rule)."""
    mx = built.postings.agg(F.max("df_shard")).collect()[0][0]
    assert mx <= CFG.shard_size
    # and the hot-term fixture really is hot: some term spans every shard
    n_shards = built.docs.select("shard").distinct().count()
    spans = (
        built.postings.groupBy("term_id")
        .agg(F.countDistinct("shard").alias("ns"))
        .agg(F.max("ns"))
        .collect()[0][0]
    )
    assert spans == n_shards


def test_postings_balance(built):
    """Postings spread across shards (no straggler shard)."""
    per_shard = [
        r["n"] for r in built.postings.groupBy("shard").agg(F.sum("df_shard").alias("n")).collect()
    ]
    assert max(per_shard) <= 3 * (sum(per_shard) / len(per_shard))


def test_windowed_counts_batch(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_counts(ev, window="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r["n"] for r in rows)
    assert total == ev.count()


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    """Streaming (watermark + availableNow) over the same files == batch agg
    — except open windows held back by the watermark in append mode."""
    src = str(tmp_path / "events_src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "tmp_ev"))
    for i, f in enumerate(glob.glob(str(tmp_path / "tmp_ev" / "*.parquet"))):
        os.rename(f, os.path.join(src, f"ev_{i}.parquet"))

    q = stream_windowed_counts(spark, src, query_name="win_test")
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM win_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total"])
        for r in windowed_counts(ev).collect()
    }
    # append mode emits only watermark-closed windows; all emitted rows must
    # match batch exactly, and most windows must have been emitted
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= len(want) - 8  # open tail windows may be withheld


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization (streaming) == batch sessionize
    for every CLOSED session; each user's final session stays open in state
    (no watermark advance after the last batch) and is the only difference."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    from invoicenet_spark.streaming.windows import sessionize, stream_sessionize

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = []
    eid = 0
    for user in (1, 2, 3):
        t = base + dt.timedelta(minutes=user)
        for sess in range(3):
            for j in range(2 + user % 2):
                rows.append((eid, t, user, "click", float(user * 10 + j), ""))
                eid += 1
                t += dt.timedelta(minutes=5)  # within gap
            t += dt.timedelta(minutes=45)  # gap > 30 min → new session
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    src = str(tmp_path / "events_src")
    ev = spark.createDataFrame(
        pdf,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    ev.coalesce(1).write.parquet(src)

    q = stream_sessionize(spark, src, gap_minutes=30, query_name="sess_parity")
    q.awaitTermination(120)
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 2))
        for r in spark.sql("SELECT * FROM sess_parity").collect()
    }

    batch = sessionize(ev, gap_minutes=30)
    w_last = F.max("session_no").over(
        __import__("pyspark").sql.Window.partitionBy("user_id")
    )
    closed_batch = batch.withColumn("last_no", w_last).where(
        F.col("session_no") != F.col("last_no")
    )
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 2))
        for r in closed_batch.collect()
    }
    assert len(expected) == 6  # 2 closed sessions per user
    assert streamed == expected


def test_postings_files_have_narrow_term_ranges(spark, tmp_path):
    """Layout invariant: range-partitioned postings files each cover a small
    slice of the vocabulary — the property that makes In(term_id) pruning
    effective. (Hash layout regressed this: every file spanned the full
    vocab, so nothing could ever skip.)"""
    import glob

    import pyarrow.parquet as pq

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.fixtures import gen_pages_spark
    from invoicenet_spark.index.build import build_index

    out = str(tmp_path / "idx")
    cfg = EngineConfig(shard_size=64, block_size=16, build_partitions=8)
    build_index(spark, gen_pages_spark(spark, 300, seed=42, partitions=4), out, cfg)
    terms = spark.read.parquet(f"{out}/terms")
    vocab_n = terms.count()
    spans = []
    for f in glob.glob(f"{out}/postings/shard=*/*.parquet"):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        st = md.row_group(0).column(0).statistics
        lo, hi = st.min, st.max
        for i in range(1, md.num_row_groups):
            s2 = md.row_group(i).column(0).statistics
            lo, hi = min(lo, s2.min), max(hi, s2.max)
        spans.append(hi - lo + 1)
    assert spans
    # median file covers well under half the vocabulary
    spans.sort()
    assert spans[len(spans) // 2] < vocab_n / 2, (spans[len(spans) // 2], vocab_n)
