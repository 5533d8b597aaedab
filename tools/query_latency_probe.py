"""Query-path latency probe for BENCH/BASELINE.md §3.

Builds a 1M-doc POSITIONAL index once (reused if --index exists), then
measures, after warmup:
  - single-query p50/p95 over the reference query set;
  - a skewed stopword+rare disjunctive query (MaxScore block-max), the
    case the block-max design exists for;
  - a real-bigram PHRASE query vs the equivalent AND query (vectorized
    phrase kernel overhead check);
  - batch-of-100 throughput.

Usage: python tools/query_latency_probe.py [--docs 1000000] [--index DIR]
Prints one JSON blob; paste-ready for BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def pctl(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(round(q * (len(xs) - 1))))]


def time_query(spark, index, search, terms, mode, reps=7):
    import pandas as pd

    q = pd.DataFrame([{"query_id": 1, "terms": terms, "mode": mode, "k": 10}])
    times = []
    for _ in range(reps):
        t0 = time.time()
        search(spark, index, q, with_url=False).collect()
        times.append(time.time() - t0)
    return times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--index", default=None)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("qprobe", cores=args.cores, shuffle_partitions=args.cores,
                      driver_memory="48g")
    out = args.index or os.path.join(tempfile.mkdtemp(prefix="qprobe_"), "index")
    report = {"docs": args.docs, "cores": args.cores, "index": out}

    if not os.path.exists(os.path.join(out, "stats.json")):
        cfg = EngineConfig(shard_size=16384, build_partitions=args.cores,
                           with_positions=True)
        pages = gen_pages_spark(spark, args.docs, seed=42, partitions=args.cores)
        t0 = time.time()
        build_index(spark, pages, out, cfg)
        report["build_sec"] = round(time.time() - t0, 1)
    index = load_index(spark, out)
    report["N"] = index.N

    # term selection from the dictionary: hottest term (stopword analog),
    # a mid term, and a rare term — via direct df-band lookups
    terms = spark.read.parquet(index.paths.terms)
    hot_row = terms.orderBy(F.desc("df")).first()
    hot = hot_row["term"]

    def band(lo, hi):
        r = (
            terms.where((F.col("df") >= lo) & (F.col("df") <= hi))
            .orderBy(F.desc("df"), "term")
            .first()
        )
        return r

    mid_row = band(index.N // 200, index.N // 20) or band(1000, index.N // 10)
    rare_row = band(50, 500) or band(10, 2000)
    mid, rare = mid_row["term"], rare_row["term"]
    report["terms"] = {
        "hot": (hot, int(hot_row["df"])),
        "mid": (mid, int(mid_row["df"])),
        "rare": (rare, int(rare_row["df"])),
    }

    # warmup
    search(spark, index, gen_queries(10, seed=1)).count()

    # reference query set p50/p95 (one query per job)
    qs = gen_queries(40, seed=42)
    lat = []
    for _, row in qs.iterrows():
        ts = time_query(spark, index, search, list(row["terms"]), row["mode"], reps=1)
        lat.extend(ts)
    report["ref_p50_ms"] = round(pctl(lat, 0.5) * 1000)
    report["ref_p95_ms"] = round(pctl(lat, 0.95) * 1000)

    # skewed stopword+rare, then hot+mid+rare for context
    ts = time_query(spark, index, search, [hot, rare], "OR")
    report["skew_or_p50_ms"] = round(pctl(ts, 0.5) * 1000)
    ts = time_query(spark, index, search, [hot, mid, rare], "OR")
    report["skew3_or_p50_ms"] = round(pctl(ts, 0.5) * 1000)

    # phrase vs AND on a real bigram: take two consecutive tokens from a doc
    from invoicenet_spark.fixtures import gen_pages_pandas

    some = gen_pages_pandas(50, seed=42)
    en_text = some[some["lang"] == "en"]["text"].iloc[0].lower().split()
    bigram = [en_text[2], en_text[3]]
    ts_ph = time_query(spark, index, search, bigram, "PHRASE")
    ts_and = time_query(spark, index, search, bigram, "AND")
    report["phrase_bigram_p50_ms"] = round(pctl(ts_ph, 0.5) * 1000)
    report["and_bigram_p50_ms"] = round(pctl(ts_and, 0.5) * 1000)
    report["bigram"] = bigram

    # batch throughput
    qb = gen_queries(100, seed=42)  # seed ties queries to the corpus vocabulary
    search(spark, index, qb).count()
    t0 = time.time()
    n = search(spark, index, qb).count()
    report["batch_100_sec"] = round(time.time() - t0, 2)
    report["batch_qps"] = round(100 / (time.time() - t0), 1)
    report["batch_rows"] = n

    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
