"""Per-round benchmark. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = north_rule metrics: (1) index-build wall time over a synthetic
Common-Crawl-style corpus (→ docs/sec), (2) reference-query-set batch BM25
latency, (3) a set of sf-dir operator queries (tokenize/dedup/ANN/agg).

Protocol (round 5): single-shot timings on this VM mislead by tens of
percent (BENCH/BASELINE.md §3e — rounds 3/4 "regressions" were protocol
noise, proven by interleaved A/B medians). Every row is therefore the
MEDIAN of ≥3 timed reps after warmup (queries: 2 warmups + 5 reps;
index_build: median of 3 fresh builds, first build's JIT excluded by the
median), with per-row spread reported so drift is attributable, plus a
co-load guard (1-min loadavg sampled before the run; a loaded box is
flagged in the output instead of silently poisoning the numbers) and an
explicit JVM GC between the build and query phases (build garbage
otherwise collects inside the query timings, +20% measured).

Env knobs:
  SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     (default 32)
  BENCH_DOCS           synthetic corpus size (default 100000)
  BENCH_REPS           timed reps per op (default 5; index_build uses 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS = int(os.environ.get("BENCH_DOCS", "100000"))
REPS = int(os.environ.get("BENCH_REPS", "5"))


def _load1() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def _io_probe(*paths) -> tuple[float, float]:
    """(seconds, MB) to read every byte under `paths` — the storage-state
    signal the loadavg co-load guard cannot see: a flushed page cache (or a
    throttled virtio host) makes every parquet scan 2-7x slower while the
    box looks idle (observed round 5: an otherwise-clean run had all
    operator rows inflated with buff/cache near zero). Reading the inputs
    here both MEASURES the state and WARMS the cache, so the timed phases
    start from a declared-hot baseline."""
    t0 = time.perf_counter()
    n = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    with open(os.path.join(root, f), "rb") as fh:
                        while True:
                            b = fh.read(1 << 20)
                            if not b:
                                break
                            n += len(b)
                except OSError:
                    pass
    return round(time.perf_counter() - t0, 3), round(n / 1e6, 1)


def measure(fn, warmups: int = 2, reps: int = REPS) -> tuple[float, float]:
    """(median_sec, spread) over `reps` timed runs after `warmups` untimed
    ones; spread = (max-min)/median — the honesty metric for each row."""
    for _ in range(warmups):
        fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    ts.sort()
    med = ts[len(ts) // 2]
    return round(med, 3), round((ts[-1] - ts[0]) / med, 3) if med else 0.0


def main():
    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.fixtures import gen_pages_spark, gen_queries
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.session import get_spark

    load_at_start = _load1()

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS, driver_memory="48g")
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}

    # ---- 1. index build (extraction → tokenize → shuffle → encode → commit)
    cfg = EngineConfig(shard_size=1 << 14, block_size=128, build_partitions=CPUS)
    pages = gen_pages_spark(spark, N_DOCS, seed=42, partitions=CPUS)
    pages.write.mode("overwrite").parquet(os.path.join(tempfile.gettempdir(), "bench_pages"))
    pages = spark.read.parquet(os.path.join(tempfile.gettempdir(), "bench_pages"))

    # pre-warm the python worker pool (steady-state executor behavior)
    def _noop(batches):
        for b in batches:
            yield b

    spark.range(0, CPUS * 4, 1, CPUS).mapInArrow(_noop, schema="id long").count()

    # storage-state probe (+ cache warm) over every timed phase's input
    io_probe_sec, io_probe_mb = _io_probe(
        os.path.join(tempfile.gettempdir(), "bench_pages"), SF_DIR
    )

    build_times = []
    roots = []
    for _ in range(3):
        out = os.path.join(tempfile.mkdtemp(prefix="bench_idx_"), "index")
        roots.append(os.path.dirname(out))
        t0 = time.perf_counter()
        build_index(spark, pages, out, cfg)
        build_times.append(time.perf_counter() - t0)
    build_times.sort()
    timings["index_build"] = round(build_times[1], 3)
    spreads["index_build"] = round((build_times[-1] - build_times[0]) / build_times[1], 3)
    docs_per_sec = round(N_DOCS / timings["index_build"], 1)
    for r in roots[:-1]:  # keep the last index for the query phases
        shutil.rmtree(r, ignore_errors=True)

    # Settle the JVM before the latency phases: the three builds leave GBs
    # of garbage whose collection otherwise lands inside the query timings
    # (measured +20% on query_batch_100 medians; a dedicated-process run of
    # the same batch medians 1.5 s)
    spark._jvm.System.gc()
    time.sleep(3)

    # ---- 2. reference query set, batch BM25
    index = load_index(spark, out)
    queries = gen_queries(100, seed=42)
    timings["query_batch_100"], spreads["query_batch_100"] = measure(
        lambda: search(spark, index, queries).count()
    )
    n_res = search(spark, index, queries).count()

    # same 100 queries rewritten as boolean trees ("a OR b" strings, mode
    # BOOL) — the round-5 pruned tree path in the official record
    bool_queries = queries.copy()
    bool_queries["terms"] = [
        [f" {'OR' if m == 'OR' else 'AND'} ".join(ts)]
        for ts, m in zip(bool_queries["terms"], bool_queries["mode"])
    ]
    bool_queries["mode"] = "BOOL"
    timings["query_batch_bool_100"], spreads["query_batch_bool_100"] = measure(
        lambda: search(spark, index, bool_queries).count()
    )

    # ---- 2b. serving path: single-query latency without a Spark job
    from invoicenet_spark.query.local import search_local

    search_local(index, queries.iloc[[0]])  # warm (catalog + dictionary)
    search_local(index, queries.iloc[[1]])
    lat = []
    for i in range(20):
        t0 = time.perf_counter()
        search_local(index, queries.iloc[[i % len(queries)]])
        lat.append(time.perf_counter() - t0)
    lat.sort()
    timings["serving_single_p50"] = round(lat[10], 3)
    spreads["serving_single_p50"] = round((lat[-1] - lat[0]) / lat[10], 3)

    # ---- 2c. serving path, 100-query batch (one shared postings read,
    # serial kernels — measured faster than both a thread pool and the
    # Spark batch path at this shape)
    timings["serving_batch_100"], spreads["serving_batch_100"] = measure(
        lambda: search_local(index, queries)
    )

    # ---- 3. operator queries over the sf dir
    from invoicenet_spark import entrypoints

    for name in [
        "term_counts",
        "doc_freq",
        "dedup_exact",
        "jaccard_pairs",
        "minhash_lsh",
        "simhash",
        "ann_cosine_topk",
        "lang_id",
        "quality_score",
        "tpch_q1",
        "events_window",
    ]:
        fn = entrypoints.QUERIES[name]
        timings[name], spreads[name] = measure(
            lambda fn=fn: fn(spark, SF_DIR).count(), warmups=1
        )

    total = round(sum(timings.values()), 3)
    load_at_end = _load1()
    print(
        json.dumps(
            {
                "metric": "index_build+query_batch+operator_suite wall sec (local[%d])" % CPUS,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "bench_docs": N_DOCS,
                "index_docs_per_sec": docs_per_sec,
                "query_batch_qps": round(100 / timings["query_batch_100"], 2),
                "n_results": n_res,
                "protocol": {"stat": "median", "reps": REPS, "warmups": 2,
                             "index_build_reps": 3},
                "spreads": spreads,
                "load1_at_start": load_at_start,
                "load1_at_end": load_at_end,
                "coload_warning": bool(load_at_start > 2.0),
                # storage-state signal: seconds to read all timed-phase
                # inputs (bench pages + sf dir) before the timed phases —
                # a cold/throttled store shows up here, not in loadavg
                "io_probe_sec": io_probe_sec,
                "io_probe_mb": io_probe_mb,
                "io_warning": bool(io_probe_mb > 0 and
                                   io_probe_mb / max(io_probe_sec, 1e-9) < 200),
            }
        )
    )


if __name__ == "__main__":
    main()
