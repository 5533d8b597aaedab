"""Federated-search cost/benefit measurement → BENCH/FEDERATED.json
(written only at the recorded 100k-doc scale; BENCH_FED_DOCS=<n> runs
print their JSON and leave the record alone).

Three questions a segment-per-crawl deployment asks (query/federate.py):

  1. OVERHEAD — what does scoring 2 segments as one corpus cost vs one
     union index of the same 100k docs? (Expected: ~2× the per-segment
     Spark-job bookkeeping on this single JVM; on a cluster the segment
     searches are independent jobs over disjoint executors.)
  2. PRUNING — what does a time window that keeps 1 of 2 segments save?
     This is the whole point of segment ranges: the work drops with the
     surviving corpus, not the archive size.
  3. SERVING — the Spark-free federation twin vs single-index serving
     (the dfs probe + scatter-gather is pure driver pandas).

Protocol matches bench.py: 2 warmups, 5 reps, median + spread, one
process, GC settle after builds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, measure  # noqa: E402  (bench.py guards main())

RECORD_DOCS = 100_000  # the scale BENCH/FEDERATED.json records
N_DOCS = int(os.environ.get("BENCH_FED_DOCS", RECORD_DOCS))


def main():
    from pyspark.sql import functions as F

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.query.federate import (
        FederatedIndex,
        search_federated,
        search_local_federated,
    )
    from invoicenet_spark.query.local import search_local
    from invoicenet_spark.session import get_spark

    spark = get_spark("bench-fed", cores=CPUS, shuffle_partitions=CPUS,
                      driver_memory="48g")
    cfg = EngineConfig(shard_size=1 << 14, block_size=128, build_partitions=CPUS)
    pages_path = os.path.join(tempfile.gettempdir(), "bench_fed_pages")
    gen_pages_spark(spark, N_DOCS, seed=42, partitions=CPUS).write.mode(
        "overwrite"
    ).parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    # warc_ts is doc_seq seconds from the fixture epoch → the median splits
    # the corpus into two time-contiguous "crawl segments" (quantile over
    # the epoch-seconds cast; TimestampType itself isn't quantile-able)
    cut_s = pages.agg(
        F.expr("percentile_approx(cast(warc_ts as long), 0.5)")
    ).first()[0]
    cut = F.timestamp_seconds(F.lit(int(cut_s)))

    base = tempfile.mkdtemp(prefix="bench_fed_")
    t0 = time.perf_counter()
    build_index(spark, pages, os.path.join(base, "union"), cfg)
    union_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    build_index(
        spark, pages.where(F.col("warc_ts") < cut), os.path.join(base, "a"), cfg
    )
    build_index(
        spark, pages.where(F.col("warc_ts") >= cut), os.path.join(base, "b"), cfg
    )
    seg_build = time.perf_counter() - t0
    spark._jvm.System.gc()
    time.sleep(3)

    queries = gen_queries(100, seed=42)
    union_ix = load_index(spark, os.path.join(base, "union"))
    fed = FederatedIndex(spark, [os.path.join(base, "a"), os.path.join(base, "b")])
    ts_b = fed.segments[1].stats["ts_min"]

    timings, spreads = {}, {}

    def row(name, fn):
        t = time.perf_counter()
        timings[name], spreads[name] = measure(fn)
        print(f"# {name}: {timings[name]:.3f}s (row wall {time.perf_counter()-t:.0f}s)",
              file=sys.stderr, flush=True)

    row("union_batch_100",
        lambda: search(spark, union_ix, queries).count())
    row("federated_batch_100",
        lambda: search_federated(spark, fed, queries).count())
    row("federated_pruned_batch_100",
        lambda: search_federated(
            spark, fed, queries, ts_from=ts_b
        ).count())

    roots = [os.path.join(base, "a"), os.path.join(base, "b")]
    search_local(os.path.join(base, "union"), queries.iloc[[0]])  # warm
    search_local_federated(roots, queries.iloc[[0]])
    row("serving_union_batch_100",
        lambda: search_local(os.path.join(base, "union"), queries))
    row("serving_federated_batch_100",
        lambda: search_local_federated(roots, queries))
    row("serving_federated_pruned_batch_100",
        lambda: search_local_federated(roots, queries, ts_from=ts_b))

    out = {
        "n_docs": N_DOCS,
        "cores": CPUS,
        "union_build_sec": round(union_build, 3),
        "two_segment_build_sec": round(seg_build, 3),
        "timings": {k: round(v, 3) for k, v in timings.items()},
        "spreads": spreads,
        "overhead_federated_vs_union":
            round(timings["federated_batch_100"] / timings["union_batch_100"], 3),
        "pruned_vs_federated":
            round(timings["federated_pruned_batch_100"]
                  / timings["federated_batch_100"], 3),
        "serving_overhead_federated_vs_union":
            round(timings["serving_federated_batch_100"]
                  / timings["serving_union_batch_100"], 3),
        "serving_pruned_vs_federated":
            round(timings["serving_federated_pruned_batch_100"]
                  / timings["serving_federated_batch_100"], 3),
        "protocol": {"stat": "median", "reps": 5, "warmups": 2},
    }
    if N_DOCS == RECORD_DOCS:
        # a reduced-scale run only prints: it must not overwrite the record
        dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCH", "FEDERATED.json")
        with open(dest, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
