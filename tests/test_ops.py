"""Dedup, similarity, multimodal, normalizer, and CLI operator tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.functions.normalize import (
    find_amounts,
    normalize_amount,
    normalize_date,
    pattern_hash_class,
    squeeze_whitespace,
)
from invoicenet_spark.ops import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base + " extra"),  # near dup
        (3, "totally different words nothing shared here at all xyz"),
        (4, "ALPHA   beta Gamma DELTA epsilon zeta eta theta iota kappa"),  # case/ws dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(dup_docs):
    out = dedup.exact_dedup(dup_docs).collect()
    groups = {r["doc_id"]: r["n_copies"] for r in out}
    # 0,1,4 collapse (case/whitespace-insensitive fingerprint); keep min id 0
    assert groups[0] == 3
    assert groups[2] == 1 and groups[3] == 1
    assert 1 not in groups and 4 not in groups


def test_jaccard_pairs(dup_docs):
    out = dedup.jaccard_pairs(dup_docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 4)] == 1.0
    assert (0, 3) not in pairs
    assert pairs[(0, 2)] > 0.5


def test_minhash_lsh_finds_exact_dups(dup_docs):
    out = dedup.minhash_lsh_pairs(dup_docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs


def test_jaccard_candidates_only(dup_docs, spark):
    """candidates arg: only the given pairs are verified, values identical
    to the all-pairs join."""
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(dup_docs, threshold=0.01).collect()
    }
    cand = spark.createDataFrame(pd.DataFrame({"id_a": [0, 0], "id_b": [1, 2]}))
    out = dedup.jaccard_pairs(dup_docs, threshold=0.01, candidates=cand).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert set(got) == {(0, 1), (0, 2)}
    assert got[(0, 1)] == full[(0, 1)] and got[(0, 2)] == full[(0, 2)]


def test_lsh_candidate_count_much_less_than_all_pairs(spark):
    """8 well-separated clusters of 5 near-identical docs: LSH candidates
    ≈ within-cluster pairs (≤ 8·C(5,2)=80 + noise), not C(40,2)=780."""
    rows = []
    for c in range(8):
        words = " ".join(f"w{c}x{i}" for i in range(12))
        for j in range(5):
            rows.append((c * 5 + j, words + f" tail{c} z{j}"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    n_cand = dedup.minhash_lsh_candidates(df).count()
    assert n_cand <= 120  # ≪ 780 all-pairs
    verified = dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    # every verified pair is within one cluster
    assert all(r["id_a"] // 5 == r["id_b"] // 5 for r in verified)
    assert len(verified) >= 40  # most within-cluster pairs survive


def test_simhash_dups(dup_docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(dup_docs).collect()}
    assert sigs[0] == sigs[1] == sigs[4]
    assert sigs[0] != sigs[3]
    near = dedup.simhash_near_dups(dup_docs, max_hamming=3).collect()
    npairs = {(r["id_a"], r["id_b"]) for r in near}
    assert (0, 1) in npairs


def test_brute_force_topk(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    q = vecs[7].tolist()
    out = similarity.brute_force_topk(df, q, k=5).collect()
    assert out[0]["vec_id"] == 7  # self is nearest
    assert abs(out[0]["cos_r6"] - 1.0) < 1e-5
    # numpy cross-check of full ranking
    v64 = vecs.astype(np.float64)
    qv = v64[7]
    cos = (v64 @ qv) / (np.linalg.norm(v64, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((np.arange(50), -np.round(cos, 12)))[:5]
    assert [r["vec_id"] for r in out] == [int(i) for i in order]


def test_lsh_topk_self_recall(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    out = similarity.lsh_topk(df, vecs[3].tolist(), k=3, n_planes=6).collect()
    assert out and out[0]["vec_id"] == 3  # query's own bucket contains it


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=30)
    dec = multimodal.decode_features(media).collect()
    assert len(dec) == 30
    by_kind = {}
    for r in dec:
        by_kind.setdefault(r["kind"], []).append(r)
    assert [tuple(r["shape"]) for r in by_kind["image"]][0] == (6, 8, 3)
    # determinism: re-run yields identical checksums
    dec2 = multimodal.decode_features(media).collect()
    assert {r["media_id"]: r["checksum"] for r in dec} == {
        r["media_id"]: r["checksum"] for r in dec2
    }
    resized = multimodal.resize_images(media, 4, 4).collect()
    assert all(r["width"] == 4 for r in resized) and len(resized) == 10
    frames = multimodal.sample_frames(media, every=2).collect()
    assert {r["frame_idx"] for r in frames} == {0, 2, 4}


def test_normalizers(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"raw": ["1,234.5", "1234.567", "99", "0.5"]})
    )
    got = [r[0] for r in df.select(normalize_amount("raw")).collect()]
    assert got == ["1234.50", "1234.56", "99.00", "0.50"]

    d = spark.createDataFrame(pd.DataFrame({"d": pd.to_datetime(["2023-01-31", "2001-12-05"])}))
    got = [r[0] for r in d.select(normalize_date("d")).collect()]
    assert got == ["01-31-2023", "12-05-2001"]

    p = spark.createDataFrame(pd.DataFrame({"s": ["Abc-12 x", "ZZ99zz"]}))
    got = [r[0] for r in p.select(pattern_hash_class("s")).collect()]
    assert got == ["Xxx-00-x", "XX00xx"]

    w = spark.createDataFrame(pd.DataFrame({"s": ["a   b  c "]}))
    assert w.select(squeeze_whitespace("s")).collect()[0][0] == "a b c"

    a = spark.createDataFrame(pd.DataFrame({"s": ["pay 1,234.50 or 2.99 or 2.99"]}))
    got = a.select(find_amounts("s")).collect()[0][0]
    assert sorted(got) == ["1,234.50", "2.99"]


def test_cli_build_and_search(spark, tmp_path):
    """CLI surface: build from parquet, search, resume no-op."""
    from invoicenet_spark.cli import main

    from invoicenet_spark.fixtures import gen_pages_spark

    pages_path = str(tmp_path / "pages")
    gen_pages_spark(spark, 80, seed=42, partitions=2).write.parquet(pages_path)
    idx = str(tmp_path / "idx")
    assert main(["build", "--pages", pages_path, "--out", idx, "--shard-size", "64"]) == 0
    term = (
        spark.read.parquet(f"{idx}/terms").orderBy(F.desc("df")).first()["term"]
    )
    assert main(["search", "--index", idx, "--terms", term, "-k", "3"]) == 0
    # Spark-free serving CLI (no session started) + vacuum subcommand
    assert main(["search", "--index", idx, "--terms", term, "--local", "-k", "3"]) == 0
    assert main(["vacuum", "--index", idx]) == 0


def test_normalize_amount_eu(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"raw": ["1.234,56", "1234,5", "12.345.678,99", "7,25", "12,345.9"]})
    )
    got = [r[0] for r in df.select(normalize_amount("raw")).collect()]
    assert got == ["1234.56", "1234.50", "12345678.99", "7.25", "12345.90"]


def test_find_first_date_breadth(spark):
    from invoicenet_spark.functions.chars import find_first_date

    cases = [
        ("meeting on Jan 5, 2023 ok", "01-05-2023"),
        ("due 5 January 2023", "01-05-2023"),
        ("paid 1/31/94 thanks", "01-31-1994"),
        ("ts 1996-09-02 end", "09-02-1996"),
        ("eu 31.12.1997 fin", "12-31-1997"),
        ("short 9/2/96", "09-02-1996"),
        ("future 12/31/2149 skipped, real 2/3/2001", "02-03-2001"),
        ("junk 3/45/2020 then 4 May 2019", "05-04-2019"),
        ("nothing here", None),
    ]
    df = spark.createDataFrame(pd.DataFrame({"s": [c for c, _ in cases]}))
    got = [r[0] for r in df.select(find_first_date("s")).collect()]
    assert got == [e for _, e in cases]


def test_route_candidate(spark):
    from invoicenet_spark.functions.normalize import route_candidate

    df = spark.createDataFrame(
        pd.DataFrame({"raw": ["Jan 5, 2023", "1.234,56", "hello", "12/31/2149"]})
    )
    r = route_candidate("raw")
    got = [
        (row["t"], row["v"])
        for row in df.select(r["cand_type"].alias("t"), r["value_norm"].alias("v")).collect()
    ]
    assert got == [
        ("date", "01-05-2023"),
        ("amount", "1234.56"),
        (None, None),
        (None, None),  # future date fails the plausibility gate
    ]


def test_line_segments(spark):
    from invoicenet_spark.ops.text_analysis import line_segments

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["One two. Three four!   Five?\n\nPara two here. "]})
    )
    got = df.select(line_segments("text").alias("ls")).collect()[0]["ls"]
    assert list(got) == ["One two", "Three four", "Five", "Para two here"]


def test_ann_cosine_topk_without_query_vector_raises(spark, tmp_path):
    """The exact-cosine entry point scores against the vec_id=0 embedding:
    a table without that row fails loudly instead of returning no rows."""
    from invoicenet_spark import entrypoints

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3], "embedding": [rng.random(4).tolist() for _ in range(3)]}
    )
    spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>").write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    with pytest.raises(ValueError, match="vec_id=0"):
        entrypoints.q_ann_cosine_topk(spark, str(tmp_path)).collect()


def test_ann_index_partition_pruning(spark, tmp_path):
    """Persisted ANN buckets: probe reads ONLY matching buckets' files
    (planner partition pruning), multi-probe recall beats single-probe."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((400, 16)).astype(np.float32)
    # plant a tight cluster around vec 3 so "true neighbors" exist: ids 0-9
    vecs[:10] = vecs[3] + 0.15 * rng.standard_normal((10, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    idx = str(tmp_path / "ann")
    similarity.build_ann_index(df, idx, n_tables=4, n_planes=5, seed=7)

    q = vecs[3].tolist()
    res = similarity.lsh_topk_indexed(spark, idx, q, k=5, n_probes=2)
    # plan: (tbl, bucket) filter is a PartitionFilter on the scan, not a
    # post-scan filter
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    # pruning semantics: the probed frame sees exactly the probed
    # (tbl, bucket) dirs' occupancy, a small fraction of the corpus×tables
    # (inputFiles() can't be used — it lists the unfiltered relation)
    import os

    pred = None
    per_dir = 0
    for t in range(4):
        buckets = set(similarity.query_buckets(q, 5, 7 + t, 2))
        p = (F.col("tbl") == t) & F.col("bucket").isin(buckets)
        pred = p if pred is None else (pred | p)
        for b in buckets:
            d = f"{idx}/vectors/tbl={t}/bucket={b}"
            if os.path.exists(d):
                per_dir += spark.read.parquet(d).count()
    n_probed = spark.read.parquet(f"{idx}/vectors").where(pred).count()
    assert 0 < n_probed == per_dir < 4 * 400
    assert res.collect()[0]["vec_id"] == 3  # self in own bucket

    # multi-probe recall ≥ single-probe recall against brute force
    bf = {r["vec_id"] for r in similarity.brute_force_topk(df, q, k=10).collect()}
    got1 = {r["vec_id"] for r in similarity.lsh_topk_indexed(spark, idx, q, k=10, n_probes=1).collect()}
    got4 = {r["vec_id"] for r in similarity.lsh_topk_indexed(spark, idx, q, k=10, n_probes=4).collect()}
    assert len(got4 & bf) >= len(got1 & bf)
    assert len(got4 & bf) >= 5  # reasonable recall on 400x16 with 5 planes


def test_parse_field_registry_dispatch(spark):
    """J3: field-type registry selects the parser; unknown type raises."""
    from invoicenet_spark.functions.normalize import parse_field

    df = spark.createDataFrame(pd.DataFrame({"raw": ["1,234.5"]}))
    assert df.select(parse_field("raw", "amount")).collect()[0][0] == "1234.50"
    d = spark.createDataFrame(pd.DataFrame({"d": pd.to_datetime(["2023-01-31"])}))
    assert d.select(parse_field("d", "date")).collect()[0][0] == "01-31-2023"
    g = spark.createDataFrame(pd.DataFrame({"s": ["a   b"]}))
    assert g.select(parse_field("s", "general")).collect()[0][0] == "a b"
    with pytest.raises(ValueError, match="unknown field type"):
        parse_field("raw", "nope")


def test_running_best_keyed_variant(spark):
    """A5 keyed variant: per-key best-so-far windows shuffle on the key
    (scale-safe) and match a per-key pandas recompute."""
    from invoicenet_spark.operators.relational import running_best

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 4,
            "step": [1, 2, 3, 4] * 2,
            "loss": [5.0, 4.0, 4.5, 3.0, 9.0, 9.5, 8.0, 8.5],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        running_best(df, "step", "loss", partition_cols=["k"])
        .orderBy("k", "step")
        .collect()
    )
    assert [r["best_so_far"] for r in out] == [5.0, 4.0, 4.0, 3.0, 9.0, 9.0, 8.0, 8.0]
    assert [r["is_improvement"] for r in out] == [
        True, True, False, True, True, False, True, False,
    ]


def test_lsh_calls_schedule_zero_driver_jobs(spark, tmp_path):
    """lsh_candidate_pairs and build_ann_index's plan construction are
    purely lazy — the embedding width is resolved executor-side by the
    signature UDF (deterministic seeded planes per batch width), never by a
    driver `.first()` probe. Results are unchanged vs an explicit dim."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, 12)).astype(np.float32)
    vecs[:6] = vecs[0] + 0.05 * rng.standard_normal((6, 12)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    df.count()  # materialize any session-level lazy init before tracking

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    cand = similarity.lsh_candidate_pairs(df, n_tables=4, n_planes=5, seed=7)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "lsh_candidate_pairs scheduled a driver job"

    # lazy-dim output == explicit-dim output
    got = {tuple(r) for r in cand.select("id_a", "id_b").collect()}
    exp = {
        tuple(r)
        for r in similarity.lsh_candidate_pairs(
            df, n_tables=4, n_planes=5, seed=7, dim=12
        ).select("id_a", "id_b").collect()
    }
    assert got == exp and got  # non-empty (planted near-dups collide)

    # build_ann_index: exactly the write job(s), no dim probe before them —
    # the probed index still answers (pruning path unchanged)
    idx = str(tmp_path / "annz")
    similarity.build_ann_index(df, idx, n_tables=4, n_planes=5, seed=7)
    res = similarity.lsh_topk_indexed(spark, idx, vecs[0].tolist(), k=3, n_probes=2)
    assert res.collect()[0]["vec_id"] == 0


def test_nearest_1d_no_crossjoin_fuzz(spark):
    """Round-5 rewrite of nearest_neighbor_1d: one mapInPandas pass + one
    min-struct agg — no crossJoin in the plan — with results identical to
    the brute-force argmin (|v-p| asc, key asc) across random inputs incl.
    duplicate values (tie runs must surface the smallest key)."""
    from invoicenet_spark.operators.relational import nearest_neighbor_1d

    rng = np.random.default_rng(17)
    for trial in range(6):
        n_pts = int(rng.integers(5, 400))
        n_pr = int(rng.integers(1, 12))
        vals = np.round(rng.uniform(0, 100, n_pts), 1)  # coarse → many ties
        pts = pd.DataFrame({"pk": np.arange(n_pts)[::-1], "v": vals})
        prb = pd.DataFrame(
            {"qk": np.arange(n_pr), "p": np.round(rng.uniform(-10, 110, n_pr), 2)}
        )
        pts_df = spark.createDataFrame(pts).repartition(4)
        out = nearest_neighbor_1d(
            pts_df, spark.createDataFrame(prb), "v", "p", "pk", "qk"
        )
        if trial == 0:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        got = {r["qk"]: (r["pk"], round(r["dist"], 9)) for r in out.collect()}
        want = {}
        for qk, p in zip(prb["qk"], prb["p"]):
            d = np.abs(pts["v"].to_numpy() - p)
            order = np.lexsort((pts["pk"].to_numpy(), d))
            i = order[0]
            want[qk] = (int(pts["pk"].iloc[i]), round(float(d[i]), 9))
        assert got == want, f"trial={trial}"


def test_duplicate_clusters_chain_and_singletons(spark):
    """duplicate_clusters: label propagation reaches the component minimum
    across multi-hop chains (near-dup is not transitive — clustering is),
    singletons label themselves, representatives = cluster minima."""
    from invoicenet_spark.ops.dedup import dedup_representatives, duplicate_clusters

    # components: chain 1-2-3-4-5 (diameter 4), clique {10,11,12},
    # pair {20,21}; singletons 30, 31
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 30, 31]],
        "doc_id long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, all_ids=ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 31}
    reps = {
        (r["doc_id"], r["cluster_size"])
        for r in dedup_representatives(
            duplicate_clusters(pairs, all_ids=ids)
        ).collect()
    }
    assert reps == {(1, 5), (10, 3), (20, 2), (30, 1), (31, 1)}


def test_cli_dedup_subcommand(spark, tmp_path, dup_docs):
    """CLI dedup: exact groups, near-dup pairs, cluster assignment, and
    kept representatives — all from one (doc_id, text) parquet."""
    import json as _json

    from invoicenet_spark.cli import main

    src = str(tmp_path / "docs")
    dup_docs.write.parquet(src)
    n_docs = dup_docs.count()

    out_c = str(tmp_path / "clusters")
    assert main(["dedup", "--docs", src, "--out", out_c,
                 "--method", "cluster", "--threshold", "0.5"]) == 0
    clusters = spark.read.parquet(out_c)
    assert clusters.count() == n_docs  # total assignment
    assert set(clusters.columns) == {"doc_id", "cluster_id"}

    out_r = str(tmp_path / "reps")
    assert main(["dedup", "--docs", src, "--out", out_r,
                 "--method", "representatives", "--threshold", "0.5"]) == 0
    reps = spark.read.parquet(out_r)
    assert 0 < reps.count() <= n_docs
    # representative ids are cluster minima → also valid doc ids
    ids = {r["doc_id"] for r in dup_docs.select("doc_id").collect()}
    assert {r["doc_id"] for r in reps.collect()} <= ids

    out_p = str(tmp_path / "pairs")
    assert main(["dedup", "--docs", src, "--out", out_p, "--method", "pairs"]) == 0
    assert {"id_a", "id_b"} <= set(spark.read.parquet(out_p).columns)
