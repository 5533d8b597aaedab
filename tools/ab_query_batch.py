"""A/B harness for the query_batch_100 bench entry (VERDICT r3 item #1).

Builds the bench index with the CURRENT checkout's code (N_DOCS docs),
then times `search()` on the reference 100-query set REPS times and prints
a JSON line with all reps + median. Run it from two git checkouts
back-to-back on an otherwise idle box to attribute a regression.

Usage: python tools/ab_query_batch.py [--docs 100000] [--reps 5]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.session import get_spark

    spark = get_spark(
        "ab_query_batch", cores=args.cpus, shuffle_partitions=args.cpus,
        driver_memory="48g",
    )
    cfg = EngineConfig(shard_size=1 << 14, block_size=128, build_partitions=args.cpus)
    pages = gen_pages_spark(spark, args.docs, seed=42, partitions=args.cpus)
    pdir = os.path.join(tempfile.gettempdir(), "ab_pages_%d" % args.docs)
    pages.write.mode("overwrite").parquet(pdir)
    pages = spark.read.parquet(pdir)
    out = os.path.join(tempfile.mkdtemp(prefix="ab_idx_"), "index")

    def _noop(batches):
        for b in batches:
            yield b

    spark.range(0, args.cpus * 4, 1, args.cpus).mapInArrow(_noop, schema="id long").count()
    t0 = time.time()
    build_index(spark, pages, out, cfg)
    build_s = round(time.time() - t0, 3)

    index = load_index(spark, out)
    queries = gen_queries(100, seed=42)
    search(spark, index, queries).count()  # warmup
    reps = []
    for _ in range(args.reps):
        t0 = time.time()
        n = search(spark, index, queries).count()
        reps.append(round(time.time() - t0, 3))
    print(json.dumps({
        "build_s": build_s,
        "reps": reps,
        "median": statistics.median(reps),
        "min": min(reps),
        "n_results": n,
        "docs": args.docs,
    }))


if __name__ == "__main__":
    main()
