"""Benchmark of the invoicenet_spark index build and serving paths.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run prints, as the last line of its
standard output, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are the per-layer metrics, and the
recorded spans are written to .bench_work/trace/. Everything the run writes
stays under .bench_work/ in the checkout.

Workloads. Both generate one pages corpus and every query from the seed,
start Spark as local[nproc] and build the index with build_index.
  build  repeated full build_index runs over the corpus after warm-up
         builds; runs no serving code while timed. Stresses `functions`
         (extract, analyzer, ids) and the index build's shuffle, encode and
         commit.
  serve  builds the index once in set-up, stops Spark and its JVM, then
         serves with the Spark-free search_local: an open-loop stream of
         single queries at a fixed rate (about a third of the single-client
         capacity on a 4-core machine), then closed-loop 100-query batches.
         Stresses `query.local`, `query.kernels` and codec decode.

End-to-end metrics, reported by both workloads (op = one build_index on
build, one single query timed from its due time on serve; items = docs
indexed on build, queries answered in 100-query batches on serve):
  setup_s                set-up time before timing, warm-up included
  op_p50_ms              median op latency (serve: at reference speed)
  items_per_s            items handled / total time of the ops that handle
                         them (serve: at reference speed); a mean, which
                         moves with the share of slow time where a median
                         jumps
  index_bytes_per_token  parquet bytes of the index / analyzed tokens
  peak_rss_mb            high-water RSS of this process plus its JVM

"At reference speed": on a shared machine the CPU speed changes by up to
half for seconds or minutes at a time (a fixed loop takes 41 ms or 65 ms on
a 4-vCPU VM), which moved whole serve runs by that much. So serve times a
fixed reference kernel (measure.ref_kernel) on its one thread right after
each query and each batch, and scales each op time by nominal / measured
kernel time. The raw figures are per-layer metrics (raw.op_p50_ms,
raw.items_per_s; host.ref_ms is the median kernel time). Build times stay
raw: its work runs on every core, which a kernel timed between builds does
not track.

Per-layer metrics come from a traced run: spans around calls into the
engine's public functions, timed from this file (see measure.Tracer), plus
probes that run only when traced (noop-sink jobs for extraction, analysis
and doc ids; a codec decode/re-encode pass; a warm-up and a measured
refresh cycle of snapshot append, update_index, first query and a Spark
search batch). Refresh is a traced probe rather than a workload because a
warm cycle takes ~12 s and a cold one ~30 s on 4 cores, more than one run
can spend; both workloads report every metric, so each traced run makes
every probe.

Correctness: a fixed sample of queries is compared with the numpy BM25
oracle; build counts must repeat exactly across every build of a run;
re-encoding posting lists must give identical bytes; the query seed must be
the corpus seed. A wrong answer or an exception counts as a failed
operation and the run goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, ROOT)

from check import oracle_for, oracle_mismatches, path_mismatches  # noqa: E402
from inputs import check_inputs, corpus_vocab, hit_share, make_inputs  # noqa: E402
from measure import (  # noqa: E402
    Tracer,
    at_ref_speed,
    drift,
    median,
    ref_kernel,
    tail_percentile,
)

PAGES = 4000  # ~3.6k `en` docs, ~0.43 M postings
# The first build in a JVM is ~3x slower than the next; builds keep getting
# a few % faster for several more, which the run budget cannot wait out, so
# op.drift reports what is left of the slope.
BUILD_WARMUPS = 1
MIN_TIMED_BUILDS = 3
RATE_QPS = 20.0  # open-loop rate, ~1/3 of single-client capacity
OPEN_SHARE = 0.6  # share of --seconds spent in the open-loop stream
N_SINGLE = 600  # single-query stream, replayed in order
N_BATCHES = 20  # fixed 100-query batches, replayed in order
SPARK_BATCH = 1000  # queries in the traced refresh probe's Spark batch
DRIVER_MEMORY = "2g"


# ----------------------------------------------------------------- set-up --
def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers Spark launches import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(run_dir: str):
    from invoicenet_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        "perfbench",
        cores=n,
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a heap committed up front: with a growing heap the JVM's
            # peak RSS wandered 1.7-2.7 GB between identical runs
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, n


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> float:
    """Stop Spark and end its JVM; returns the JVM's peak RSS in MB."""
    from pyspark import SparkContext

    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    hwm = _vm_hwm_mb(pid)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return hwm


def self_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def write_parquet(df, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us")


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans) / 1000.0


def spark_jobs(spark, group: str, fn):
    """Run fn() under a job group; (result, seconds, jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, dt, len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------------------ index facts --
def docs_table(root: str):
    import pyarrow.dataset as ds

    return (
        ds.dataset(os.path.join(root, "docs"), format="parquet", partitioning="hive")
        .to_table(columns=["doc_id", "url", "doc_len"])
        .to_pandas()
    )


# index facts that must repeat exactly across builds of one corpus; on-disk
# parquet sizes do not, because range-partition sampling moves file splits
EXACT_FACTS = ("docs", "posting_rows", "postings", "encoded_bytes", "files", "tokens")


def index_facts(root: str) -> dict:
    """Counts and sizes of one built index."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from invoicenet_spark.index.build import IndexPaths, committed_postings_files

    with open(os.path.join(root, "manifest.json")) as f:
        manifest = json.load(f)
    files = committed_postings_files(IndexPaths(root)) or []
    blobs = ["doc_blob", "tf_blob", "dl_blob"]
    encoded = 0
    for p in files:
        t = pq.read_table(p, columns=blobs)
        encoded += sum(pc.sum(pc.binary_length(t[c])).as_py() or 0 for c in blobs)
    parquet_bytes = sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )
    return {
        "docs": int(manifest["observed"]["n_docs"]),
        "posting_rows": int(manifest["observed"]["posting_rows"]),
        "postings": int(manifest["observed"]["n_postings"]),
        "encoded_bytes": encoded,
        "files": len(files),
        "tokens": int(docs_table(root)["doc_len"].sum()),
        "parquet_bytes": parquet_bytes,
        "phase1_s": float(manifest["phase1_sec"]),
        "phase2_s": float(manifest["phase2_sec"]),
    }


def _posting_rows(root: str) -> list[dict]:
    import pyarrow.parquet as pq

    from invoicenet_spark.index.build import IndexPaths, committed_postings_files

    cols = ["df_shard", "doc_blob", "tf_blob", "dl_blob", "block_last",
            "block_max_tf", "block_min_dl"]
    rows = []
    for p in committed_postings_files(IndexPaths(root)) or []:
        rows.extend(pq.read_table(p, columns=cols).to_pylist())
    return rows


def codec_pass(root: str, block_size: int, sample: int | None, seed: int) -> dict:
    """Decode posting lists of the built index and re-encode them; counts
    lists whose re-encoding is not byte-identical. `sample` limits the pass
    to a seeded subset of lists."""
    import numpy as np

    from invoicenet_spark.index.codec import decode_posting_list, encode_posting_list

    rows = _posting_rows(root)
    if sample is not None and sample < len(rows):
        pick = np.random.default_rng([seed, 5]).choice(len(rows), size=sample, replace=False)
        rows = [rows[i] for i in sorted(pick)]
    nbytes = sum(len(r["doc_blob"]) + len(r["tf_blob"]) + len(r["dl_blob"]) for r in rows)
    t0 = time.perf_counter()
    decoded = [decode_posting_list(r, block_size) for r in rows]
    t_dec = time.perf_counter() - t0
    t0 = time.perf_counter()
    encoded = [encode_posting_list(d, t, l, block_size) for d, t, l in decoded]
    t_enc = time.perf_counter() - t0
    keys = ("doc_blob", "tf_blob", "dl_blob")
    arrays = ("block_last", "block_max_tf", "block_min_dl")
    bad = sum(
        any(bytes(r[k]) != e[k] for k in keys)
        or any(list(r[k]) != e[k].tolist() for k in arrays)
        for r, e in zip(rows, encoded)
    )
    return {
        "lists": len(rows),
        "mismatched": bad,
        "decode_mb_s": nbytes / 1e6 / t_dec,
        "encode_mb_s": nbytes / 1e6 / t_enc,
    }


# ---------------------------------------------------------------- serving --
def single_rows(queries):
    """One-row query frames, cut before timing so the generator's own cost
    stays out of the measured latency."""
    return [queries.iloc[[i]] for i in range(len(queries))]


def ref_speed(k: int = 3) -> float:
    return median([ref_kernel() for _ in range(k)])


def open_loop(root, singles, qids, n, rate, search, on_answer):
    """Send n single queries at `rate` from one thread, replaying `singles`
    in order. Each latency is measured from the query's due time; lateness
    is how far behind schedule the generator was when it sent. The
    reference kernel runs in the idle time after each query."""
    lat, late, refs, failed = [], [], [], 0
    t0 = time.perf_counter() + 0.005
    for i in range(n):
        due = t0 + i / rate
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        sent = time.perf_counter()
        j = i % len(singles)
        try:
            on_answer(qids[j], search(root, singles[j], qids[j]))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
        done = time.perf_counter()
        lat.append(done - due)
        late.append(sent - due)
        refs.append(ref_speed(1))
    return lat, late, refs, failed


class Answers:
    """Collects the answers of the oracle-checked queries (first time each
    is served) and checks them after timing ends."""

    def __init__(self, check_ids):
        self.check_ids = set(check_ids)
        self.got = {}

    def __call__(self, qid, res) -> None:
        if qid in self.check_ids and qid not in self.got:
            self.got[qid] = res

    def mismatches(self, oracle, queries) -> list[int]:
        import pandas as pd


        if not self.got:
            return []
        got = pd.concat([r for r in self.got.values() if len(r)])
        return oracle_mismatches(oracle, queries, got, list(self.got))


def trace_local_calls(tr, li) -> dict:
    """Spans around the serving path's public calls; the catalog read also
    counts what it returned."""
    from invoicenet_spark.query import local

    counts = {"rows": 0, "bytes": 0}

    def count_read(out):
        counts["rows"] += len(out)
        for c in ("doc_blob", "tf_blob", "dl_blob"):
            if c in out:
                counts["bytes"] += int(out[c].map(len).sum())

    tr.wrap(local, "normalize_local_queries", "query.local.normalize")
    tr.wrap(local.LocalIndex, "term_info", "query.local.term_info")
    tr.wrap(local.LocalIndex, "urls_for", "query.local.urls")
    tr.wrap(type(li.catalog()), "read", "query.local.postings_read", count_read)
    return counts


def serving_layers(tr, queries, counts, n_calls) -> dict:
    """Per-layer serving metrics from the single-query spans."""
    mode_of = dict(zip(queries["query_id"], queries["mode"]))
    out = {}
    for key, name in (
        ("normalize_ms", "query.local.normalize"),
        ("term_info_ms", "query.local.term_info"),
        ("postings_read_ms", "query.local.postings_read"),
        ("urls_ms", "query.local.urls"),
    ):
        spans = [s.dur for s, _ in tr.by_name(name) if s.qid is not None]
        out[f"query.local.{key}"] = median(spans) * 1e3 if spans else 0.0
    by_mode = {"AND": [], "OR": [], "BOOL": []}
    for s, self_t in tr.by_name("query.local.search"):
        if s.qid is not None:
            by_mode[mode_of[s.qid]].append(self_t)
    for mode, xs in by_mode.items():
        out[f"query.kernels.self_ms.{mode.lower()}"] = median(xs) * 1e3 if xs else 0.0
    out["query.local.postings_rows"] = counts["rows"] / max(n_calls, 1)
    out["query.local.postings_bytes"] = counts["bytes"] / max(n_calls, 1)
    return out


def traced_search(tr):
    from invoicenet_spark.query.local import search_local

    def search(root, q, qid):
        tr.qid = qid
        try:
            with tr.span("query.local.search"):
                return search_local(root, q)
        finally:
            tr.qid = None

    return search


# ----------------------------------------------------- traced Spark probes --
def function_probes(spark, pages_df, cfg) -> dict:
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from invoicenet_spark.functions.analyzer import analyze_col
    from invoicenet_spark.index.build import build_doc_table, tokens_from_pages

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    text = tokens_from_pages(pages_df, cfg)
    t0 = time.perf_counter()
    noop(text)
    extract_s = time.perf_counter() - t0
    text = text.persist(StorageLevel.MEMORY_ONLY)
    text.count()
    toks = analyze_col("text", cfg.token_pattern, cfg.stopwords, cfg.stem)
    t0 = time.perf_counter()
    n_tokens = text.select(F.sum(F.size(toks))).collect()[0][0]
    analyzer_s = time.perf_counter() - t0
    analyzed = text.select("url", "warc_ts", toks.alias("_toks")).persist(
        StorageLevel.MEMORY_ONLY
    )
    analyzed.count()
    t0 = time.perf_counter()
    noop(build_doc_table(analyzed, cfg))
    ids_s = time.perf_counter() - t0
    analyzed.unpersist()
    text.unpersist()
    return {
        "functions.extract.s": extract_s,
        "functions.analyzer.s": analyzer_s,
        "functions.analyzer.tokens": int(n_tokens),
        "functions.ids.s": ids_s,
    }


def refresh_probe(spark, run_dir, inputs, cfg, tr) -> tuple[dict, int, int]:
    """Refresh cycles on a live index: restore an untimed copy of the base
    index, append a delta snapshot, run update_index, open the new
    generation and answer one query, then one Spark search batch. The first
    cycle warms these paths; the second is measured and checked. Returns
    (metrics, attempted, failed)."""
    import pandas as pd


    from invoicenet_spark.index.build import IndexPaths
    from invoicenet_spark.index.deletes import load_tombstones
    from invoicenet_spark.query.exec import load_index, search
    from invoicenet_spark.query.local import local_index, search_local
    from invoicenet_spark.sources.snapshots import SnapshotTable
    from invoicenet_spark.streaming.incremental import update_index

    base_root = os.path.join(run_dir, "refresh_base_index")
    base_table = os.path.join(run_dir, "refresh_base_table")
    root = os.path.join(run_dir, "refresh_index")
    table_dir = os.path.join(run_dir, "refresh_table")
    SnapshotTable(base_table).append(spark.read.parquet(os.path.join(run_dir, "pages.parquet")))
    # cold start: a full build of snapshot 1
    update_index(spark, SnapshotTable(base_table), base_root, cfg)
    delta = spark.read.parquet(os.path.join(run_dir, "delta.parquet"))
    batch = pd.concat(inputs.batches).reset_index(drop=True).iloc[:SPARK_BATCH]

    for cycle in range(2):
        t = tr if cycle else Tracer(False)
        for src, dst in ((base_root, root), (base_table, table_dir)):
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(src, dst)
        table = SnapshotTable(table_dir)
        with t.span("sources.snapshots.append"):
            t0 = time.perf_counter()
            table.append(delta)
            append_s = time.perf_counter() - t0
        with t.span("streaming.incremental.update"):
            summary, update_s, _ = spark_jobs(
                spark, f"refresh-update-{cycle}", lambda: update_index(spark, table, root, cfg)
            )
        with t.span("query.local.open"):
            t0 = time.perf_counter()
            li = local_index(root)
            li.catalog()
            li.term_info(set())
            open_s = time.perf_counter() - t0
        with t.span("query.local.search"):
            t0 = time.perf_counter()
            search_local(root, inputs.queries.iloc[[0]])
            first_s = time.perf_counter() - t0

        idx = load_index(spark, root)

        def plan_and_run():
            t0 = time.perf_counter()
            frame = search(spark, idx, batch)
            plan_s = time.perf_counter() - t0
            return frame.toPandas(), plan_s

        with t.span("query.exec.search"):
            (rows, plan_s), search_s, jobs = spark_jobs(
                spark, f"refresh-search-{cycle}", plan_and_run
            )
    exec_s = search_s - plan_s
    failed = len(path_mismatches(rows, search_local(root, batch)))

    # every url of the delta (upserts included) is served by exactly one
    # live doc, the one the delta delivered
    docs = docs_table(root)
    tomb = set(load_tombstones(IndexPaths(root)).tolist())
    live = docs[~docs["doc_id"].isin(tomb)]
    delta_en = inputs.delta[inputs.delta["lang"].isin(cfg.index_langs)]
    counts = live["url"].value_counts()
    failed += int((counts.reindex(delta_en["url"]).fillna(0) != 1).sum())
    failed += int((counts > 1).sum())
    attempted = len(batch) + len(delta_en)
    return (
        {
            "sources.snapshots.append_s": append_s,
            "streaming.incremental.update_s": update_s,
            "index.deletes.tombstones": len(tomb),
            "query.local.open_ms": open_s * 1e3,
            "refresh.refresh_s": update_s + open_s + first_s,
            "query.exec.plan_ms": plan_s * 1e3,
            "query.exec.execute_s": exec_s,
            "query.exec.spark_jobs": jobs,
            "refresh.batch_qps": len(batch) / search_s,
            "refresh.upserts": int(summary["docs_upserted"]),
        },
        attempted,
        failed,
    )


def spark_probes(spark, run_dir, pages_df, inputs, cfg, tr) -> tuple[dict, int, int]:
    out = function_probes(spark, pages_df, cfg)
    refresh, attempted, failed = refresh_probe(spark, run_dir, inputs, cfg, tr)
    out.update(refresh)
    return out, attempted, failed


# -------------------------------------------------------------- workloads --
class Run:
    """Shared state of one run: inputs, Spark, counters and metrics."""
    def __init__(self, args, run_dir):
        self.args = args
        self.run_dir = run_dir
        self.tr = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.jvm_rss_mb = 0.0
        self.spark = None

    def stop_spark(self) -> None:
        spark, self.spark = self.spark, None
        self.jvm_rss_mb = stop_spark(spark)

    def count(self, attempted: int, failed: int, what: str) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.problems.append(f"{failed} failed: {what}")

    def setup_spark(self, n_delta: int):
        """Start Spark and generate the run's inputs and page files."""
        from invoicenet_spark.config import EngineConfig

        spark, n = start_spark(self.run_dir)
        self.spark = spark
        self.inputs = make_inputs(
            self.args.seed, PAGES, N_SINGLE, N_BATCHES, n_delta=n_delta
        )
        write_parquet(self.inputs.pages, os.path.join(self.run_dir, "pages.parquet"))
        if n_delta:
            write_parquet(self.inputs.delta, os.path.join(self.run_dir, "delta.parquet"))
        self.cfg = EngineConfig(build_partitions=n)
        return spark, spark.read.parquet(os.path.join(self.run_dir, "pages.parquet"))

    def check_answers(self, root: str):
        """Oracle over the index's docs; input checks; returns the oracle."""
        oracle = oracle_for(self.inputs.pages, docs_table(root), self.cfg.index_langs)
        vocab = corpus_vocab(self.inputs.pages, self.cfg.index_langs)
        self.problems += check_inputs(self.inputs, vocab)
        self.layers["serve.hit_share"] = hit_share(self.inputs, vocab)
        return oracle

    def serve_probe(self, root: str, n: int):
        """Traced open-loop serving of n single queries (both workloads)."""
        from invoicenet_spark.query.local import local_index

        counts = trace_local_calls(self.tr, local_index(root))
        singles = single_rows(self.inputs.queries)
        qids = [int(q) for q in self.inputs.queries["query_id"]]
        answers = Answers(self.inputs.check_ids)
        lat, late, refs, failed = open_loop(
            root, singles, qids, n, RATE_QPS, traced_search(self.tr), answers
        )
        self.tr.unwrap_all()
        self.layers.update(serving_layers(self.tr, self.inputs.queries, counts, n))
        self.count(n, failed, "single queries raised")
        return lat, late, refs, answers

    def report(self, op_s, raw_op_s, items, item_s, raw_item_s, refs) -> None:
        """End-to-end op and item metrics at reference speed; the raw
        timings, the reference speed and each series' drift per layer."""

        self.metrics["op_p50_ms"] = median(op_s) * 1e3
        self.metrics["items_per_s"] = items / sum(item_s)
        self.layers["raw.op_p50_ms"] = median(raw_op_s) * 1e3
        self.layers["raw.items_per_s"] = items / sum(raw_item_s)
        self.layers["host.ref_ms"] = median(refs) * 1e3
        self.layers["op.drift"] = drift(op_s)
        self.layers["items.drift"] = drift(item_s)
        self.layers["op.samples"] = len(op_s)
        self.layers["items.samples"] = len(item_s)

    def codec(self, root: str) -> None:
        sample = None if self.args.trace else 300
        c = codec_pass(root, self.cfg.block_size, sample, self.args.seed)
        self.count(c["lists"], c["mismatched"], "posting lists re-encode differently")
        self.layers["index.codec.encode_mb_s"] = c["encode_mb_s"]
        self.layers["index.codec.decode_mb_s"] = c["decode_mb_s"]

    def index_layers(self, facts: dict, jobs: int) -> None:
        self.layers.update({
            "index.build.phase1_s": facts["phase1_s"],
            "index.build.phase2_s": facts["phase2_s"],
            "index.build.spark_jobs": jobs,
            "index.build.posting_rows": facts["posting_rows"],
            "index.build.postings": facts["postings"],
            "index.build.bytes": facts["encoded_bytes"],
            "index.build.files": facts["files"],
        })
        self.metrics["index_bytes_per_token"] = facts["parquet_bytes"] / facts["tokens"]


def run_build(r: Run, t_start: float) -> None:
    from invoicenet_spark.index.build import build_index

    spark, pages_df = r.setup_spark(n_delta=PAGES // 10 if r.args.trace else 0)
    roots = [os.path.join(r.run_dir, f"index{i}") for i in range(2)]
    facts = []

    def one_build(i: int) -> float:
        root = roots[i % 2]
        shutil.rmtree(root, ignore_errors=True)
        _, dt, jobs = spark_jobs(
            spark, f"build-{i}", lambda: build_index(spark, pages_df, root, r.cfg)
        )
        facts.append((index_facts(root), jobs))
        return dt

    for i in range(BUILD_WARMUPS):
        one_build(i)
    r.metrics["setup_s"] = time.perf_counter() - t_start

    gc0 = jvm_gc_s(spark)
    times, refs = [], []
    t_end = time.perf_counter() + r.args.seconds
    while len(times) < MIN_TIMED_BUILDS or time.perf_counter() < t_end:
        i = BUILD_WARMUPS + len(times)
        refs.append(ref_speed(5))
        try:
            with r.tr.span("index.build.build_index"):
                times.append(one_build(i))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            r.count(1, 1, f"build {i} raised")
            times.append(float("nan"))
    r.layers["jvm.gc_s"] = jvm_gc_s(spark) - gc0
    ok_times = [t for t in times if t == t]
    last_root = roots[(BUILD_WARMUPS + len(times) - 1) % 2]

    # every build of the run must produce the same index
    first = facts[0][0]
    differ = [sorted(k for k in EXACT_FACTS if f[k] != first[k]) for f, _ in facts[1:]]
    r.count(len(ok_times), sum(map(bool, differ)),
            f"builds whose counts differ from the first build {differ}")

    last, last_jobs = facts[-1]
    # raw: a reference kernel timed between builds does not track the
    # speed of a build that runs on every core (tried: no smaller spread)
    r.report(
        op_s=ok_times, raw_op_s=ok_times,
        items=last["docs"] * len(ok_times), item_s=ok_times, raw_item_s=ok_times,
        refs=refs,
    )
    r.index_layers(last, last_jobs)

    oracle = r.check_answers(last_root)
    r.codec(last_root)
    if r.args.trace:
        probes, attempted, failed = spark_probes(
            spark, r.run_dir, pages_df, r.inputs, r.cfg, r.tr
        )
        r.layers.update(probes)
        r.count(attempted, failed, "refresh probe answers")
        lat, late, _, answers = r.serve_probe(last_root, 100)
        r.layers["loadgen.late_ms"] = median(late) * 1e3
        r.layers["query.tail_ms"] = _tail_ms(lat)
        bad = answers.mismatches(oracle, r.inputs.queries)
    else:
        from invoicenet_spark.query.local import search_local

        q = r.inputs.queries
        chk = q[q["query_id"].isin(r.inputs.check_ids)]
        bad = oracle_mismatches(oracle, q, search_local(last_root, chk), r.inputs.check_ids)
    r.count(len(r.inputs.check_ids), len(bad), f"oracle mismatches {bad[:5]}")
    r.stop_spark()


def _tail_ms(lat) -> float:
    tail = tail_percentile(lat)
    return tail[1] * 1e3 if tail else max(lat) * 1e3


def run_serve(r: Run, t_start: float) -> None:
    from invoicenet_spark.index.build import build_index
    from invoicenet_spark.query.local import search_local

    spark, pages_df = r.setup_spark(n_delta=PAGES // 10 if r.args.trace else 0)
    root = os.path.join(r.run_dir, "index")
    gc0 = jvm_gc_s(spark)
    _, _, jobs = spark_jobs(spark, "build", lambda: build_index(spark, pages_df, root, r.cfg))
    r.layers["jvm.gc_s"] = jvm_gc_s(spark) - gc0
    facts = index_facts(root)
    r.index_layers(facts, jobs)
    if r.args.trace:
        probes, attempted, failed = spark_probes(
            spark, r.run_dir, pages_df, r.inputs, r.cfg, r.tr
        )
        r.layers.update(probes)
        r.count(attempted, failed, "refresh probe answers")
    # a serving replica shares its cores with no JVM
    r.stop_spark()
    oracle = r.check_answers(root)
    r.codec(root)

    singles = single_rows(r.inputs.queries)
    qids = [int(q) for q in r.inputs.queries["query_id"]]
    for b in r.inputs.batches[:3]:
        search_local(root, b)
    for s in singles[:50]:
        search_local(root, s)
    r.metrics["setup_s"] = time.perf_counter() - t_start

    n_open = max(int(r.args.seconds * OPEN_SHARE * RATE_QPS), 1)
    if r.args.trace:
        lat, late, lat_refs, answers = r.serve_probe(root, n_open)
    else:
        answers = Answers(r.inputs.check_ids)
        lat, late, lat_refs, failed = open_loop(
            root, singles, qids, n_open, RATE_QPS,
            lambda root_, q, _qid: search_local(root_, q), answers,
        )
        r.count(n_open, failed, "single queries raised")
    bad = answers.mismatches(oracle, r.inputs.queries)
    r.count(0, len(bad), f"single-query oracle mismatches {bad[:5]}")

    # closed loop: fixed 100-query batches replayed in order
    batch_t, batch_refs, batch_res = [], [], {}
    t_end = time.perf_counter() + r.args.seconds * (1 - OPEN_SHARE)
    while time.perf_counter() < t_end or len(batch_t) < 3:
        i = len(batch_t) % len(r.inputs.batches)
        t0 = time.perf_counter()
        try:
            res = search_local(root, r.inputs.batches[i])
            batch_t.append(time.perf_counter() - t0)
            batch_res.setdefault(i, res)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            r.count(1, 1, f"batch {i} raised")
            batch_t.append(float("nan"))
        batch_refs.append(ref_speed())
    ok = [(t, ref) for t, ref in zip(batch_t, batch_refs) if t == t]
    r.count(len(ok), 0, "")
    # oracle sample: the first five queries of every batch served
    bad = []
    for i, res in batch_res.items():
        b = r.inputs.batches[i]
        bad += oracle_mismatches(oracle, b, res, list(b["query_id"][:5]))
    r.count(0, len(bad), f"batch oracle mismatches {bad[:5]}")

    r.report(
        op_s=[at_ref_speed(t, ref) for t, ref in zip(lat, lat_refs)], raw_op_s=lat,
        items=len(r.inputs.batches[0]) * len(ok),
        item_s=[at_ref_speed(t, ref) for t, ref in ok], raw_item_s=[t for t, _ in ok],
        refs=lat_refs + [ref for _, ref in ok],
    )
    r.layers["loadgen.late_ms"] = median(late) * 1e3
    r.layers["query.tail_ms"] = _tail_ms(lat)


WORKLOADS = {"build": run_build, "serve": run_serve}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"

    t_start = time.perf_counter()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    r = Run(args, run_dir)
    try:
        WORKLOADS[args.workload](r, t_start)
    finally:
        if r.spark is not None:
            r.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)

    r.metrics["peak_rss_mb"] = self_rss_mb() + r.jvm_rss_mb
    r.layers["error_rate"] = r.failed / max(r.attempted, 1)
    if args.trace:
        top = [s.dur for s in r.tr.spans if s.parent is None]
        r.layers["trace.overhead_pct"] = (
            100.0 * r.tr.span_cost_s() * len(r.tr.spans) / max(sum(top), 1e-9)
        )
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        r.tr.dump(os.path.join(WORK, "trace", f"{args.workload}-{args.seed}.json"))
    values = r.layers if args.trace else r.metrics
    for p in r.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not r.problems,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in bench[kind]},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
