"""spark-submit entry point (north_rule: `spark-submit --py-files` on a
multi-executor cluster).

Usage:
  spark-submit --py-files invoicenet_spark.zip -m ...   # cluster
  python -m invoicenet_spark.cli build --pages <parquet> --out <dir>
  python -m invoicenet_spark.cli update --table <snapshot-root> --out <dir>
  python -m invoicenet_spark.cli search --index <dir> --terms a,b --mode OR -k 10
  python -m invoicenet_spark.cli bench-build --docs 20000 --cores 8 --out <dir>

The CLI only parses args and hands DataFrames to the library — all policy
lives in invoicenet_spark.index / .query / .streaming. Mirrors the
reference's CLI split (prepare_data.py / train.py / predict.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _query_row(args) -> dict:
    """One query-batch row from the search subcommand's flags — shared by
    the Spark, serving, and federated branches so every path parses the
    query language identically."""
    if args.query is not None:
        args.mode = "BOOL"
        terms = [args.query]
    elif args.terms is None:
        raise SystemExit("search needs --terms or --query")
    else:
        terms = args.terms.split(",")
    qrow = {"query_id": 1, "terms": terms, "mode": args.mode,
            "k": args.k, "min_match": args.min_match, "slop": args.slop,
            "ordered": not args.unordered, "max_edits": args.max_edits}
    if args.fields:
        qrow["fields"] = {
            kv.split("=")[0]: float(kv.split("=")[1]) if "=" in kv else 1.0
            for kv in args.fields.split(",")
        }
    if args.after_score is not None:
        qrow["after_score"] = args.after_score
        qrow["after_doc"] = args.after_doc or 0
        if getattr(args, "federated", False):
            if args.after_segment is None:
                raise SystemExit(
                    "federated pagination needs --after-segment (the "
                    "previous page's last-row segment)"
                )
            qrow["after_segment"] = args.after_segment
    if args.neg_terms:
        qrow["neg_terms"] = args.neg_terms.split(",")
    return qrow


def _synonym_map(args) -> dict | None:
    if not getattr(args, "synonyms", None):
        return None
    out = {}
    for kv in args.synonyms.split(","):
        k, _, vs = kv.partition("=")
        if not vs:
            raise SystemExit(f"--synonyms entry {kv!r} needs term=alt1|alt2")
        out[k] = vs.split("|")
    return out


def main(argv=None):
    p = argparse.ArgumentParser(prog="invoicenet_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full index build from a pages parquet")
    b.add_argument("--pages", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--use-stored-text", action="store_true")
    b.add_argument("--cores", type=int, default=None)
    b.add_argument("--shard-size", type=int, default=None)
    b.add_argument("--with-positions", action="store_true", help="positional index (phrase queries)")
    b.add_argument("--store-text", action="store_true",
                   help="store extracted text in the docs table (snippets/highlighting)")
    b.add_argument("--fields", default=None,
                   help="comma-separated field names for a fielded (BM25F) index, "
                        "e.g. 'title,body'; pages must carry one text column per "
                        "field (or html with fields=title,body)")
    b.add_argument("--dedup-exact", action="store_true",
                   help="drop exact-duplicate docs (identical extracted text; "
                        "smallest url wins) before indexing")
    b.add_argument("--stopwords", default=None,
                   help="comma-separated stopword list removed at tokenization "
                        "(and from query terms — StopFilter semantics); an "
                        "index-layout choice persisted in the manifest")
    b.add_argument("--stem", default=None, choices=["s_stem"],
                   help="token stemmer (s_stem = Harman S-stemmer, plural "
                        "suffixes only) applied at index AND query time")
    b.add_argument("--range", default=None, dest="doc_range",
                   help="multi-executor recipe: build ONLY docID range lo:hi "
                        "(shard-aligned) against --global-root's doc table + "
                        "dictionary; ranges merge with the `merge` subcommand")
    b.add_argument("--global-root", default=None,
                   help="global-artifacts dir from `prepare` (required with --range)")

    pr = sub.add_parser(
        "prepare",
        help="phase 0 of a range-partitioned multi-executor build: write the "
             "doc-id table + term dictionary (the only shared state) to --out",
    )
    pr.add_argument("--pages", required=True)
    pr.add_argument("--out", required=True)
    pr.add_argument("--use-stored-text", action="store_true")
    pr.add_argument("--cores", type=int, default=None)
    pr.add_argument("--shard-size", type=int, default=None)
    pr.add_argument("--with-positions", action="store_true")
    pr.add_argument("--store-text", action="store_true")
    pr.add_argument("--fields", default=None)

    mg = sub.add_parser(
        "merge",
        help="concatenate range builds into the final index (disjoint shard "
             "sets + one finalize; no posting bytes move)",
    )
    mg.add_argument("--ranges", required=True, help="comma-separated range build dirs")
    mg.add_argument("--global-root", required=True)
    mg.add_argument("--out", required=True)
    mg.add_argument("--cores", type=int, default=None)

    u = sub.add_parser("update", help="incremental update from a snapshot table")
    u.add_argument("--table", required=True)
    u.add_argument("--out", required=True)
    u.add_argument("--use-stored-text", action="store_true")
    u.add_argument("--cores", type=int, default=None)

    s = sub.add_parser("search", help="query an index (or several, federated)")
    s.add_argument("--index", required=True,
                   help="index root, or comma-separated segment roots for "
                        "federated search (one index per crawl segment, "
                        "union-corpus scoring)")
    s.add_argument("--ts-from", default=None,
                   help="federated: skip segments whose [ts_min, ts_max] "
                        "ends before this time (segment-granular pruning)")
    s.add_argument("--ts-to", default=None,
                   help="federated: skip segments starting after this time")
    s.add_argument("--after-segment", type=int, default=None,
                   help="federated pagination: the previous page's last-row "
                        "segment (with --after-score/--after-doc)")
    s.add_argument("--terms", default=None, help="comma-separated")
    s.add_argument("--query", default=None,
                   help="boolean query string, e.g. '(a AND b) OR (c NOT d)', "
                        "'\"x y\"~2 AND pre*' — implies --mode BOOL. Leaves "
                        "take ^boosts (term^2, \"a b\"^1.5) and the "
                        "--after-score/--after-doc cursor paginates BOOL "
                        "results exactly like flat modes")
    s.add_argument("--mode", default="OR",
                   choices=["OR", "AND", "PHRASE", "PREFIX", "NEAR", "FUZZY",
                            "BOOL", "WILDCARD", "REGEX"])
    s.add_argument("--unordered", action="store_true",
                   help="NEAR only: order-tolerant proximity (SpanNear ordered=false)")
    s.add_argument("--slop", type=int, default=0,
                   help="NEAR: max extra gaps between ordered terms (0 == PHRASE)")
    s.add_argument("--max-edits", type=int, default=1,
                   help="FUZZY: Levenshtein edit budget for term expansion")
    s.add_argument("--after-score", type=float, default=None,
                   help="pagination cursor: score of the previous page's last row")
    s.add_argument("--after-doc", type=int, default=None,
                   help="pagination cursor: doc_id of the previous page's last row")
    s.add_argument("--neg-terms", default=None,
                   help="comma-separated must_not terms: matching docs are excluded")
    s.add_argument("--min-match", type=int, default=0,
                   help="OR queries: keep docs matching >= N distinct terms")
    s.add_argument("--fields", default=None,
                   help="fielded search weights, e.g. 'title=2,body=1' "
                        "(index must be built with --fields)")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--count", action="store_true",
                   help="print the exact match count (track_total_hits) instead of results")
    s.add_argument("--facet", default=None,
                   help="facet the returned match set by a docs-table field "
                        "(e.g. url) — prints (value, n_docs) rows; pass a "
                        "big -k to facet the full match set")
    s.add_argument("--synonyms", default=None,
                   help="query-time synonym map 'car=auto|automobile,big=large' "
                        "— OR queries gain the alternatives as clauses, AND "
                        "queries match any form of every concept")
    s.add_argument("--date-histogram", default=None, dest="date_histogram",
                   choices=["hour", "day", "week", "month", "year"],
                   help="bucket the match set's warc_ts by this calendar "
                        "interval and print per-bucket counts (ES "
                        "date_histogram agg)")
    s.add_argument("--sort-by", default=None,
                   help="re-rank the returned match set by a docs-table "
                        "field instead of relevance (ES sort clause)")
    s.add_argument("--sort-asc", action="store_true",
                   help="--sort-by ascending (default: descending)")
    s.add_argument("--filter", default=None, dest="doc_filter",
                   help="ES filter context: a SQL predicate over the docs "
                        "table (e.g. \"url LIKE 'https://%%'\") — only docs "
                        "satisfying it are searchable; applied before "
                        "per-shard top-k, never scored (false/NULL exclude)")
    s.add_argument("--snippets", action="store_true",
                   help="attach highlighted snippets (index must be built with --store-text)")
    s.add_argument("--local", action="store_true",
                   help="serve driver-locally via pyarrow (no Spark job; "
                        "single-query latency path)")
    s.add_argument("--cores", type=int, default=None)

    g = sub.add_parser("bench-build", help="synthetic-corpus build throughput")
    g.add_argument("--docs", type=int, default=20000)
    g.add_argument("--cores", type=int, default=8)
    g.add_argument("--out", required=True)
    g.add_argument("--pages-parquet", default=None, help="pre-generated input")
    g.add_argument("--shard-size", type=int, default=None)

    c = sub.add_parser(
        "compact",
        help="merge small docID-range shards into a larger shard_size by "
             "decode→re-encode of the postings (no re-tokenize); the "
             "Lucene-merge-policy analog for incremental indexes",
    )
    c.add_argument("--index", required=True)
    c.add_argument("--shard-size", type=int, required=True, dest="new_shard_size")
    c.add_argument("--cores", type=int, default=None)

    dd = sub.add_parser(
        "dedup",
        help="corpus dedup over a (doc_id, text) parquet: exact groups, "
             "near-dup pairs, or connected-component cluster assignment",
    )
    dd.add_argument("--docs", required=True, help="parquet with doc_id + text columns")
    dd.add_argument("--out", required=True, help="output parquet directory")
    dd.add_argument("--method", default="cluster",
                    choices=["exact", "pairs", "cluster", "representatives"],
                    help="exact: fingerprint groups; pairs: MinHash-LSH "
                         "near-dup pairs; cluster: total (doc_id, cluster_id) "
                         "assignment; representatives: one kept doc per cluster")
    dd.add_argument("--threshold", type=float, default=0.5,
                    help="Jaccard threshold for near-dup pairs/clusters")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--cores", type=int, default=None)

    v = sub.add_parser(
        "vacuum",
        help="delete postings data files not referenced by any committed "
             "shard-log entry (orphans from crashed runs); Spark-free",
    )
    v.add_argument("--index", required=True)

    args = p.parse_args(argv)

    if args.cmd == "search":
        args.fed_roots = args.index.split(",")
        args.federated = len(args.fed_roots) > 1 or args.ts_from or args.ts_to
        if args.federated and (args.facet or args.sort_by or args.snippets
                               or args.doc_filter or args.date_histogram):
            raise SystemExit(
                "--facet/--sort-by/--snippets/--filter/--date-histogram are "
                "per-index features; run them against one segment root"
            )

    if args.cmd == "vacuum":
        from invoicenet_spark.index.build import IndexPaths, vacuum_postings

        removed = vacuum_postings(IndexPaths(args.index))
        print(json.dumps({"cmd": "vacuum", "removed": len(removed)}))
        return 0

    if args.cmd == "search" and args.local:
        # the serving path is Spark-free end-to-end: no session, no JVM —
        # this is what a query replica's CLI invocation costs
        import pandas as pd

        from invoicenet_spark.query.local import search_local

        q = pd.DataFrame([_query_row(args)])
        if args.federated:
            from invoicenet_spark.query.federate import search_local_federated

            if args.count:
                res = search_local_federated(
                    args.fed_roots, q, ts_from=args.ts_from, ts_to=args.ts_to,
                    count_only=True, synonyms=_synonym_map(args),
                )
                print(json.dumps({"total_hits": int(res["total_hits"].iloc[0])}))
                return 0
            res = search_local_federated(
                args.fed_roots, q, ts_from=args.ts_from, ts_to=args.ts_to,
                synonyms=_synonym_map(args),
            )
            for r in res.to_dict("records"):
                print(json.dumps(
                    {"rank": int(r["rank"]), "segment": int(r["segment"]),
                     "doc_id": int(r["doc_id"]), "url": r["url"],
                     "score": round(float(r["score"]), 6)},
                    ensure_ascii=False,
                ))
            return 0
        excluded = None
        if args.doc_filter:
            from invoicenet_spark.query.local import excluded_ids_local

            excluded = excluded_ids_local(args.index, args.doc_filter)
        if args.count:
            res = search_local(args.index, q,
                               count_only=True, excluded_ids=excluded,
                               synonyms=_synonym_map(args))
            print(json.dumps({"total_hits": int(res["total_hits"].iloc[0])}))
            return 0
        res = search_local(args.index, q,
                           excluded_ids=excluded, synonyms=_synonym_map(args))
        if args.facet:
            from invoicenet_spark.query.local import facet_counts_local

            fc = facet_counts_local(res, args.index, args.facet)
            for r in fc.to_dict("records"):
                print(json.dumps({args.facet: r[args.facet],
                                  "n_docs": int(r["n_docs"])}, ensure_ascii=False))
            return 0
        if args.date_histogram:
            from invoicenet_spark.query.local import date_histogram_local

            dh = date_histogram_local(res, args.index, args.date_histogram)
            for r in dh.to_dict("records"):
                print(json.dumps({"bucket": str(r["bucket"]),
                                  "n_docs": int(r["n_docs"])}))
            return 0
        if args.sort_by:
            from invoicenet_spark.query.local import top_by_field_local

            tb = top_by_field_local(
                res, args.index, args.sort_by, args.k, ascending=args.sort_asc
            )
            for r in tb.to_dict("records"):
                print(json.dumps({"rank": int(r["rank"]), "doc_id": int(r["doc_id"]),
                                  args.sort_by: r[args.sort_by]}, ensure_ascii=False))
            return 0
        if args.snippets:
            from invoicenet_spark.query.snippets import attach_snippets_local

            res = attach_snippets_local(args.index, res, q)
        for r in res.to_dict("records"):
            out = {"rank": int(r["rank"]), "doc_id": int(r["doc_id"]),
                   "url": r["url"], "score": round(float(r["score"]), 6)}
            if "snippet" in r:
                out["snippet"] = r["snippet"]
            print(json.dumps(out, ensure_ascii=False))
        return 0

    from invoicenet_spark.config import EngineConfig
    from invoicenet_spark.session import get_spark

    spark = get_spark(f"invoicenet_spark_{args.cmd}", cores=getattr(args, "cores", None))
    cfg_kwargs = {}
    if getattr(args, "shard_size", None):
        cfg_kwargs["shard_size"] = args.shard_size
    if getattr(args, "cores", None):
        cfg_kwargs["build_partitions"] = args.cores
    if getattr(args, "with_positions", False):
        cfg_kwargs["with_positions"] = True
    if getattr(args, "store_text", False):
        cfg_kwargs["store_text"] = True
    if getattr(args, "fields", None) and args.cmd in ("build", "update", "bench-build", "prepare"):
        cfg_kwargs["fields"] = tuple(args.fields.split(","))
    if getattr(args, "stopwords", None) and args.cmd == "build":
        cfg_kwargs["stopwords"] = tuple(args.stopwords.split(","))
    if getattr(args, "stem", None) and args.cmd == "build":
        cfg_kwargs["stem"] = args.stem
    cfg = EngineConfig(**cfg_kwargs)

    if args.cmd == "build":
        from invoicenet_spark.index.build import build_index, build_index_range

        pages = spark.read.parquet(args.pages)
        t0 = time.time()
        if args.doc_range is not None:
            if not args.global_root:
                raise SystemExit("--range needs --global-root (see `prepare`)")
            lo, _, hi = args.doc_range.partition(":")
            res = build_index_range(
                spark, pages, args.global_root, args.out, int(lo), int(hi),
                cfg, use_stored_text=args.use_stored_text,
            )
            print(json.dumps({
                "cmd": "build-range", "range": [int(lo), int(hi)],
                "shards": res["shards"], "n_docs": res["n_docs"],
                "seconds": round(time.time() - t0, 3),
            }))
        else:
            build_index(
                spark, pages, args.out, cfg, resume=args.resume,
                use_stored_text=args.use_stored_text,
                dedup_exact=args.dedup_exact,
            )
            print(json.dumps({"cmd": "build", "seconds": round(time.time() - t0, 3)}))

    elif args.cmd == "prepare":
        from invoicenet_spark.index.build import prepare_global_artifacts

        pages = spark.read.parquet(args.pages)
        t0 = time.time()
        prepare_global_artifacts(
            spark, pages, args.out, cfg, use_stored_text=args.use_stored_text
        )
        print(json.dumps({"cmd": "prepare", "seconds": round(time.time() - t0, 3)}))

    elif args.cmd == "merge":
        from invoicenet_spark.index.build import merge_range_builds

        t0 = time.time()
        merge_range_builds(
            spark, args.ranges.split(","), args.global_root, args.out, cfg
        )
        print(json.dumps({"cmd": "merge", "seconds": round(time.time() - t0, 3)}))

    elif args.cmd == "update":
        from invoicenet_spark.sources.snapshots import SnapshotTable
        from invoicenet_spark.streaming.incremental import update_index

        out = update_index(
            spark, SnapshotTable(args.table), args.out, cfg,
            use_stored_text=args.use_stored_text,
        )
        print(json.dumps({"cmd": "update", **out}))

    elif args.cmd == "search":
        import pandas as pd

        from invoicenet_spark.query.exec import load_index, search

        q = pd.DataFrame([_query_row(args)])
        if args.federated:
            from invoicenet_spark.query.federate import search_federated

            if args.count:
                row = search_federated(
                    spark, args.fed_roots, q, ts_from=args.ts_from,
                    ts_to=args.ts_to, count_only=True,
                    synonyms=_synonym_map(args),
                ).collect()[0]
                print(json.dumps({"total_hits": int(row["total_hits"])}))
                return 0
            res = search_federated(
                spark, args.fed_roots, q, ts_from=args.ts_from,
                ts_to=args.ts_to, synonyms=_synonym_map(args),
            )
            for r in res.collect():
                print(json.dumps(
                    {"rank": int(r["rank"]), "segment": int(r["segment"]),
                     "doc_id": int(r["doc_id"]), "url": r["url"],
                     "score": round(float(r["score"]), 6)},
                    ensure_ascii=False,
                ))
            return 0
        index = load_index(spark, args.index)
        doc_filter = (index.docs, args.doc_filter) if args.doc_filter else None
        if args.count:
            row = search(spark, index, q, count_only=True,
                         doc_filter=doc_filter,
                         synonyms=_synonym_map(args)).collect()[0]
            print(json.dumps({"total_hits": int(row["total_hits"])}))
            return 0
        res = search(spark, index, q, doc_filter=doc_filter,
                     synonyms=_synonym_map(args))
        if args.facet:
            from invoicenet_spark.query.exec import facet_counts

            fc = facet_counts(
                res.select("query_id", "doc_id"), index.docs, args.facet
            ).collect()
            for r in fc:
                print(json.dumps({args.facet: r[args.facet],
                                  "n_docs": int(r["n_docs"])}, ensure_ascii=False))
            return 0
        if args.date_histogram:
            from invoicenet_spark.query.exec import date_histogram

            dh = date_histogram(
                res.select("query_id", "doc_id"), index.docs, args.date_histogram
            ).collect()
            for r in dh:
                print(json.dumps({"bucket": str(r["bucket"]),
                                  "n_docs": int(r["n_docs"])}))
            return 0
        if args.sort_by:
            from invoicenet_spark.query.exec import top_by_field

            tb = top_by_field(
                res.select("query_id", "doc_id"), index.docs, args.sort_by,
                args.k, ascending=args.sort_asc,
            ).collect()
            for r in tb:
                print(json.dumps({"rank": int(r["rank"]), "doc_id": int(r["doc_id"]),
                                  args.sort_by: r[args.sort_by]}, ensure_ascii=False))
            return 0
        if args.snippets:
            from invoicenet_spark.query.snippets import attach_snippets

            res = attach_snippets(spark, index, res, q)
        rows = [r.asDict() for r in res.collect()]
        for r in rows:
            out = {"rank": int(r["rank"]), "doc_id": int(r["doc_id"]),
                   "url": r["url"], "score": round(float(r["score"]), 6)}
            if "snippet" in r:
                out["snippet"] = r["snippet"]
            print(json.dumps(out, ensure_ascii=False))

    elif args.cmd == "compact":
        from invoicenet_spark.index.maintain import compact_index

        out = compact_index(spark, args.index, args.new_shard_size)
        print(json.dumps({"cmd": "compact", **out}))

    elif args.cmd == "dedup":
        from invoicenet_spark.ops import dedup as dd_ops

        docs = spark.read.parquet(args.docs)
        if args.text_col != "text":
            docs = docs.withColumnRenamed(args.text_col, "text")
        if args.id_col != "doc_id":
            docs = docs.withColumnRenamed(args.id_col, "doc_id")
        if args.method == "exact":
            out_df = dd_ops.exact_dedup(docs)
        elif args.method == "pairs":
            out_df = dd_ops.minhash_lsh_pairs(docs, threshold=args.threshold)
        else:
            pairs = dd_ops.minhash_lsh_pairs(docs, threshold=args.threshold).select(
                "id_a", "id_b"
            )
            out_df = dd_ops.duplicate_clusters(pairs, all_ids=docs.select("doc_id"))
            if args.method == "representatives":
                out_df = dd_ops.dedup_representatives(out_df)
        out_df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"cmd": "dedup", "method": args.method, "rows": n,
                          "out": args.out}))

    elif args.cmd == "bench-build":
        from invoicenet_spark.fixtures import gen_pages_spark
        from invoicenet_spark.index.build import build_index

        if args.pages_parquet:
            pages = spark.read.parquet(args.pages_parquet)
            n = pages.count()
        else:
            pages = gen_pages_spark(spark, args.docs, seed=42, partitions=args.cores)
            n = args.docs
        # Pre-warm the Python worker pool (one trivial Arrow stage touching
        # every core) so the measured stage reflects steady-state executor
        # behavior, not one-time process spawn — mirrors a warm cluster.
        import pyarrow as pa

        def _noop(batches):
            for b in batches:
                yield b

        spark.range(0, args.cores * 4, 1, args.cores).mapInArrow(
            _noop, schema="id long"
        ).count()
        t0 = time.time()
        build_index(spark, pages, args.out, cfg)
        dt = time.time() - t0
        print(json.dumps({"cmd": "bench-build", "docs": n, "cores": args.cores,
                          "seconds": round(dt, 3), "docs_per_sec": round(n / dt, 1)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
