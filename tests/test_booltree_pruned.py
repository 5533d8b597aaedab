"""Block-max pruning for boolean trees (booltree.evaluate_shard_topk).

Round-5 flagship: pure-disjunction trees — the shape EVERY bare or fielded
OR query rewrites to — route to the MaxScore kernel with per-leaf
(boost-scaled idf, field-avgdl) bounds instead of the exhaustive walk.

Pins, per random trial:
- pruned vs the exhaustive TREE WALK: rank identity + scores to 1e-12 rel
  (flat vs nested accumulation may differ in the last ulp);
- pruned vs kernels.score_exhaustive over the resolved leaf postings in
  DFS order: BIT-identical scores — the float-identity contract that keeps
  pagination cursors exact across pruned and cursored pages;
- AND-of-disjunction-groups routes to the conjunctive block-probe kernel
  (exact structural pruning) and NOT folds its negative into the deleted
  mask so the positive keeps its pruned routing;
- genuinely non-flattenable shapes (phrase leaves, min_match>1, AND with
  a non-group clause) still take the tree walk bit-exactly;
- cursor continuation: page 2 from a pruned page 1's cursor equals the
  tail of one big-k pruned run, float-exact.
"""

import numpy as np

from invoicenet_spark.index.codec import encode_posting_list
from invoicenet_spark.query import booltree, kernels

K1, B = 1.2, 0.75


def _corpus(rng, n_docs, n_terms, block_size):
    dls = rng.integers(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    by_tid = {}
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 20, size=df).astype(np.int64)
        row = encode_posting_list(docs, tfs, dls[docs], block_size=block_size)
        row["term_id"] = t
        idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        by_tid[t] = kernels.TermPostings(kernels.PostingList(row), idf=idf, avgdl=avgdl, k1=K1, b=B)
    return by_tid, avgdl


def _random_or_tree(rng, n_terms, avgdl, allow_absent=True):
    """Random pure disjunction: term leaves with random boosts and avgdl
    overrides (the fielded-leaf shape), randomly nested under OR nodes."""
    n_leaves = int(rng.integers(1, 6))
    leaves = []
    for _ in range(n_leaves):
        tid = int(rng.integers(0, n_terms + (2 if allow_absent else 0)))
        leaf = {"kind": "term", "term": f"t{tid}", "tid": tid,
                "boost": float(rng.choice([1.0, 0.5, 2.0, 2.5]))}
        if rng.random() < 0.5:
            leaf["avgdl"] = float(avgdl * rng.choice([0.7, 1.0, 1.4]))
        leaves.append(leaf)
    while len(leaves) > 1:  # random nesting
        i = int(rng.integers(0, len(leaves) - 1))
        group = {"kind": "or", "clauses": [leaves.pop(i), leaves.pop(i)]}
        leaves.insert(i, group)
    root = leaves[0]
    if root["kind"] == "term" and rng.random() < 0.3:
        root = {"kind": "or", "clauses": [root]}
    return root


def _ground_truth(tree, by_tid, k, deleted, after=None):
    docs, scores = booltree.evaluate_shard(tree, by_tid)
    live = kernels.drop_deleted(docs, deleted)
    docs, scores = kernels.apply_after(docs[live], scores[live], after)
    return kernels.topk_select(docs, scores, k)


def _flat_exhaustive(tree, by_tid, k, deleted):
    """score_exhaustive over the tree's present leaves in DFS order, each
    leaf's boost folded into idf and its avgdl override applied."""
    plists = [
        kernels.TermPostings(
            kernels.PostingList(by_tid[tid].row), idf=by_tid[tid].idf * boost,
            avgdl=by_tid[tid].avgdl if avgdl is None else avgdl, k1=K1, b=B,
        )
        for tid, boost, avgdl in booltree.flatten_or_terms(tree)
        if tid in by_tid
    ]
    return kernels.score_exhaustive(plists, k, "OR", deleted=deleted)


def test_pruned_disjunction_fuzz():
    for seed in range(400):
        rng = np.random.default_rng(90_000 + seed)
        n_docs = int(rng.integers(8, 60))
        n_terms = int(rng.integers(2, 5))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, bs)
        tree = _random_or_tree(rng, n_terms, avgdl)
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        assert booltree.flatten_or_terms(tree) is not None

        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"

        # bit-identity between the pruned routing and the flat exhaustive
        # kernel over the same leaf postings
        xd, xs = _flat_exhaustive(tree, by_tid, k, deleted)
        assert np.array_equal(gd, xd), f"seed={seed}"
        assert np.array_equal(gs, xs), f"seed={seed}: pruned floats != flat floats"


def test_non_flattenable_shapes_take_tree_walk_exactly():
    for seed in range(150):
        rng = np.random.default_rng(120_000 + seed)
        n_docs = int(rng.integers(8, 60))
        by_tid, avgdl = _corpus(rng, n_docs, 4, 8)
        k = int(rng.integers(1, 6))
        a = _random_or_tree(rng, 4, avgdl)
        b = _random_or_tree(rng, 4, avgdl)
        shape = int(rng.integers(0, 3))
        mm_or = {"kind": "or", "clauses": [a, b], "min_match": 2}
        inner_and = {"kind": "and", "clauses": [a, mm_or]}
        # round 5 prunes flattenable ORs, AND-of-groups, min_match ORs with
        # flattenable clauses, and NOT positives — what still WALKS is any
        # shape with a non-flattenable, non-group clause in the way:
        if shape == 0:
            tree = inner_and  # AND with a min_match clause
        elif shape == 1:
            # NOT recurses, but its positive itself requires the walk
            tree = {"kind": "not", "positive": inner_and, "negative": b}
        else:
            # min_match OR with a conjunctive clause
            tree = {"kind": "or", "clauses": [inner_and, b], "min_match": 2}
        assert booltree.flatten_or_terms(tree) is None
        ed, es = _ground_truth(tree, by_tid, k, None)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k)
        assert np.array_equal(ed, gd), f"seed={seed}"
        assert np.array_equal(es, gs), f"seed={seed}"


def test_cursor_pages_bit_stable_across_pruned_and_exhaustive():
    for seed in range(100):
        rng = np.random.default_rng(150_000 + seed)
        n_docs = int(rng.integers(20, 80))
        by_tid, avgdl = _corpus(rng, n_docs, 3, 8)
        tree = _random_or_tree(rng, 3, avgdl, allow_absent=False)
        full_d, full_s = booltree.evaluate_shard_topk(tree, by_tid, n_docs + 1)
        if full_d.size < 4:
            continue
        k = full_d.size // 2
        p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, k)
        assert np.array_equal(p1d, full_d[:k]) and np.array_equal(p1s, full_s[:k])
        after = (float(p1s[-1]), int(p1d[-1]))
        p2d, p2s = booltree.evaluate_shard_topk(tree, by_tid, k, after=after)
        n2 = p2d.size
        assert np.array_equal(p2d, full_d[k : k + n2]), f"seed={seed}"
        assert np.array_equal(p2s, full_s[k : k + n2]), f"seed={seed}"


def test_flatten_shapes():
    t = {"kind": "term", "term": "a", "tid": 3, "boost": 2.0}
    assert booltree.flatten_or_terms(t) == [(3, 2.0, None)]
    nested = {
        "kind": "or",
        "clauses": [
            {"kind": "or", "clauses": [
                {"kind": "term", "term": "title:a", "tid": 1, "boost": 2.0, "avgdl": 4.5},
                {"kind": "term", "term": "body:a", "tid": 2, "boost": 1.0, "avgdl": 9.0},
            ]},
            {"kind": "term", "term": "b", "tid": 7, "boost": 1.0},
        ],
    }
    assert booltree.flatten_or_terms(nested) == [
        (1, 2.0, 4.5), (2, 1.0, 9.0), (7, 1.0, None)
    ]
    # blockers: min_match, phrase leaves, and/not nodes
    assert booltree.flatten_or_terms({**nested, "min_match": 2}) is None
    assert booltree.flatten_or_terms(
        {"kind": "or", "clauses": [t, {"kind": "phrase", "tids": [1, 2],
                                       "terms": ["a", "b"], "slop": 0,
                                       "ordered": True, "boost": 1.0}]}
    ) is None
    assert booltree.flatten_or_terms({"kind": "and", "clauses": [t, t]}) is None


def test_and_of_or_groups_fuzz():
    """AND-of-disjunction-groups (the fielded AND rewrite) routes to the
    conjunctive block-probe kernel: rank identity + 1e-12-rel scores vs the
    exhaustive tree walk, bit-stable across repeat calls, cursor pages
    exact, and a group whose every leaf is absent short-circuits to empty
    (AND semantics)."""
    for seed in range(300):
        rng = np.random.default_rng(300_000 + seed)
        n_docs = int(rng.integers(10, 70))
        n_terms = int(rng.integers(3, 6))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, bs)
        n_groups = int(rng.integers(2, 4))
        clauses = [
            _random_or_tree(rng, n_terms, avgdl, allow_absent=False)
            for _ in range(n_groups)
        ]
        tree = {"kind": "and", "clauses": clauses}
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"
        # repeat call bit-stability (cache state must not leak into floats)
        gd2, gs2 = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(gd, gd2) and np.array_equal(gs, gs2)

        if gd.size >= 2:
            kk = gd.size // 2
            p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, kk, deleted=deleted)
            after = (float(p1s[-1]), int(p1d[-1]))
            p2d, p2s = booltree.evaluate_shard_topk(
                tree, by_tid, kk, deleted=deleted, after=after
            )
            n2 = p2d.size
            assert np.array_equal(p2d, gd[kk : kk + n2]), f"seed={seed}"
            assert np.array_equal(p2s, gs[kk : kk + n2]), f"seed={seed}"

    # absent-leaf group → empty AND result on both routings
    rng = np.random.default_rng(1)
    by_tid, avgdl = _corpus(rng, 30, 3, 8)
    tree = {"kind": "and", "clauses": [
        {"kind": "term", "term": "t0", "tid": 0, "boost": 1.0},
        {"kind": "or", "clauses": [
            {"kind": "term", "term": "zz", "tid": 99, "boost": 1.0}]},
    ]}
    ed, _ = _ground_truth(tree, by_tid, 10, None)
    gd, _ = booltree.evaluate_shard_topk(tree, by_tid, 10)
    assert ed.size == 0 and gd.size == 0


def test_not_keeps_pruned_positive_fuzz():
    """NOT routes as an exclusion mask folded into `deleted`, so the
    positive subtree keeps its pruned routing (flattenable OR → blockmax,
    AND-of-groups → conjunctive probe). Rank identity vs the tree walk,
    scores to 1e-12 rel, tombstones compose, cursor pages exact."""
    for seed in range(250):
        rng = np.random.default_rng(400_000 + seed)
        n_docs = int(rng.integers(10, 70))
        n_terms = int(rng.integers(3, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, int(rng.choice([4, 8])))
        k = int(rng.integers(1, 6))
        pos = _random_or_tree(rng, n_terms, avgdl)
        if rng.random() < 0.4:  # AND-of-groups positive too
            pos = {"kind": "and", "clauses": [
                pos, _random_or_tree(rng, n_terms, avgdl, allow_absent=False)]}
        neg = _random_or_tree(rng, n_terms, avgdl)
        tree = {"kind": "not", "positive": pos, "negative": neg}
        n_del = int(rng.integers(0, max(1, n_docs // 4)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"
        if gd.size >= 2:
            kk = gd.size // 2
            p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, kk, deleted=deleted)
            after = (float(p1s[-1]), int(p1d[-1]))
            p2d, p2s = booltree.evaluate_shard_topk(
                tree, by_tid, kk, deleted=deleted, after=after
            )
            n2 = p2d.size
            full_d, full_s = booltree.evaluate_shard_topk(
                tree, by_tid, n_docs + 1, deleted=deleted
            )
            assert np.array_equal(p2d, full_d[kk : kk + n2]), f"seed={seed}"
            assert np.array_equal(p2s, full_s[kk : kk + n2]), f"seed={seed}"


def test_min_match_or_of_groups_fuzz():
    """min_match OR whose clauses all flatten (incl. the fielded_tree
    min_match shape) routes to the pigeonhole kernel: rank identity +
    1e-12-rel scores vs the tree walk (which counts CLAUSES, matching the
    group semantics), clause groups with no present leaves dropped."""
    for seed in range(250):
        rng = np.random.default_rng(600_000 + seed)
        n_docs = int(rng.integers(10, 70))
        n_terms = int(rng.integers(3, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, int(rng.choice([4, 8])))
        k = int(rng.integers(1, 6))
        n_groups = int(rng.integers(2, 5))
        clauses = [_random_or_tree(rng, n_terms, avgdl) for _ in range(n_groups)]
        m = int(rng.integers(2, n_groups + 1))
        tree = {"kind": "or", "clauses": clauses, "min_match": m}
        n_del = int(rng.integers(0, max(1, n_docs // 4)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed} m={m}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"
        if gd.size >= 2:
            kk = gd.size // 2
            p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, kk, deleted=deleted)
            after = (float(p1s[-1]), int(p1d[-1]))
            p2d, p2s = booltree.evaluate_shard_topk(
                tree, by_tid, kk, deleted=deleted, after=after
            )
            full_d, full_s = booltree.evaluate_shard_topk(
                tree, by_tid, n_docs + 1, deleted=deleted
            )
            n2 = p2d.size
            assert np.array_equal(p2d, full_d[kk : kk + n2]), f"seed={seed}"
            assert np.array_equal(p2s, full_s[kk : kk + n2]), f"seed={seed}"


def _positional_corpus(rng, n_docs, vocab_size):
    """Token corpus → positional TermPostings per term (encoded like
    test_kernels_fuzz._encode_positional)."""
    vocab = [f"t{i}" for i in range(vocab_size)]
    docs_tokens = {
        d: [vocab[i] for i in rng.integers(0, vocab_size, size=rng.integers(3, 40))]
        for d in range(n_docs)
    }
    dls = np.array([len(docs_tokens[d]) for d in range(n_docs)], dtype=np.int64)
    avgdl = float(dls.mean())
    by_tid = {}
    for tid, term in enumerate(vocab):
        docs, poss = [], []
        for d in range(n_docs):
            p = [i for i, t in enumerate(docs_tokens[d]) if t == term]
            if p:
                docs.append(d)
                poss.append(np.array(p, dtype=np.int64))
        if not docs:
            continue
        docs = np.array(docs, dtype=np.int64)
        tfs = np.array([len(p) for p in poss], dtype=np.int64)
        row = encode_posting_list(
            docs, tfs, dls[docs], block_size=8, positions=np.concatenate(poss)
        )
        row["term_id"] = tid
        df = docs.size
        idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        by_tid[tid] = kernels.TermPostings(kernels.PostingList(row), idf=idf, avgdl=avgdl, k1=K1, b=B)
    return by_tid, avgdl, vocab_size


def test_mixed_or_with_phrase_leaves_fuzz():
    """OR trees carrying phrase leaves route to score_blockmax: phrases
    pre-evaluate into materialized pseudo lists (exact upper bounds), term
    leaves keep MaxScore pruning. Rank identity + 1e-12-rel scores vs the
    tree walk, bit-identity between pruned and exhaustive branches, exact
    cursor pages, tombstones composed."""
    for seed in range(250):
        rng = np.random.default_rng(700_000 + seed)
        n_docs = int(rng.integers(8, 60))
        by_tid, avgdl, vs = _positional_corpus(rng, n_docs, int(rng.integers(3, 7)))
        if not by_tid:
            continue
        k = int(rng.integers(1, 6))
        clauses = []
        for _ in range(int(rng.integers(1, 4))):  # term leaves / nested ORs
            clauses.append(_random_or_tree(rng, vs, avgdl))
        for _ in range(int(rng.integers(1, 3))):  # phrase leaves
            L = int(rng.integers(1, 4))
            tids = [int(rng.integers(0, vs)) for _ in range(L)]
            clauses.append({
                "kind": "phrase", "tids": tids,
                "terms": [f"t{t}" for t in tids],
                "slop": 0, "ordered": True,
                "boost": float(rng.choice([1.0, 2.0])),
            })
        rng.shuffle(clauses)
        tree = {"kind": "or", "clauses": list(clauses)}
        assert booltree.flatten_or_terms(tree) is None
        assert booltree.flatten_or_mixed(tree) is not None
        n_del = int(rng.integers(0, max(1, n_docs // 4)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"
        # bit-identity with the exhaustive branch: k = n_docs + 1 leaves
        # theta at -inf, so that run scores every match exhaustively
        fd, fs = booltree.evaluate_shard_topk(
            tree, by_tid, n_docs + 1, deleted=deleted
        )
        assert np.array_equal(gd, fd[:k]) and np.array_equal(gs, fs[:k]), f"seed={seed}"
        if gd.size >= 2:
            kk = gd.size // 2
            p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, kk, deleted=deleted)
            after = (float(p1s[-1]), int(p1d[-1]))
            p2d, p2s = booltree.evaluate_shard_topk(
                tree, by_tid, kk, deleted=deleted, after=after
            )
            n2 = p2d.size
            assert np.array_equal(p2d, fd[kk : kk + n2]), f"seed={seed}"
            assert np.array_equal(p2s, fs[kk : kk + n2]), f"seed={seed}"


def test_flatten_or_mixed_shapes():
    t = lambda tid: {"kind": "term", "term": f"t{tid}", "tid": tid, "boost": 1.0}
    ph = {"kind": "phrase", "tids": [1, 2], "terms": ["a", "b"],
          "slop": 0, "ordered": True, "boost": 1.0}
    andt = {"kind": "and", "clauses": [t(1), t(2)]}
    nott = {"kind": "not", "positive": t(1), "negative": t(2)}
    mmt = {"kind": "or", "clauses": [t(1), t(2), t(3)], "min_match": 2}
    # root must be a term or a plain OR
    assert booltree.flatten_or_mixed(t(1)) == [("term", (1, 1.0, None))]
    assert booltree.flatten_or_mixed(andt) is None
    assert booltree.flatten_or_mixed({"kind": "or", "clauses": [t(1), andt],
                                      "min_match": 2}) is None
    # pure-term ORs give all-term parts in flatten_or_terms' order
    pure = {"kind": "or", "clauses": [
        t(2), {"kind": "or", "clauses": [t(1), t(3)]}]}
    assert booltree.flatten_or_mixed(pure) == [
        ("term", leaf) for leaf in booltree.flatten_or_terms(pure)]
    # AND-of-flat-groups -> andg; AND with a non-flat clause -> sub
    parts = booltree.flatten_or_mixed({"kind": "or", "clauses": [t(0), andt]})
    assert [k for k, _ in parts] == ["term", "andg"]
    assert parts[1][1] == [[(1, 1.0, None)], [(2, 1.0, None)]]
    deep_and = {"kind": "and", "clauses": [t(1), ph]}
    parts = booltree.flatten_or_mixed({"kind": "or", "clauses": [t(0), deep_and]})
    assert [k for k, _ in parts] == ["term", "sub"]
    # phrase / NOT / nested min_match OR -> sub; nested mm<=1 OR unnests
    parts = booltree.flatten_or_mixed({"kind": "or", "clauses": [
        {"kind": "or", "clauses": [t(0), ph]}, nott, mmt]})
    assert [k for k, _ in parts] == ["term", "sub", "sub", "sub"]


def test_mixed_or_general_subtrees_fuzz():
    """The generalized mixed-OR routing: disjunctions whose clauses mix
    term leaves with AND subtrees (-> block-probed andg materialization),
    NOT subtrees, nested min_match ORs, and phrase leaves (-> walk
    materialization). Rank identity + 1e-12-rel scores vs the tree walk,
    bit-identity between pruned and exhaustive branches, exact cursor
    pages, tombstones composed."""
    for seed in range(300):
        rng = np.random.default_rng(800_000 + seed)
        n_docs = int(rng.integers(10, 70))
        n_terms = int(rng.integers(3, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, int(rng.choice([4, 8])))
        k = int(rng.integers(1, 6))
        clauses = []
        for _ in range(int(rng.integers(1, 4))):  # term leaves / nested ORs
            clauses.append(_random_or_tree(rng, n_terms, avgdl))
        n_sub = int(rng.integers(1, 4))
        for _ in range(n_sub):
            kind = int(rng.integers(0, 3))
            a = _random_or_tree(rng, n_terms, avgdl, allow_absent=False)
            b = _random_or_tree(rng, n_terms, avgdl)
            if kind == 0:  # AND subtree (flat groups -> andg)
                clauses.append({"kind": "and", "clauses": [a, b]})
            elif kind == 1:  # NOT subtree -> sub
                clauses.append({"kind": "not", "positive": a, "negative": b})
            else:  # nested min_match OR -> sub
                c = _random_or_tree(rng, n_terms, avgdl)
                clauses.append({"kind": "or", "clauses": [a, b, c],
                                "min_match": 2})
        rng.shuffle(clauses)
        tree = {"kind": "or", "clauses": list(clauses)}
        assert booltree.flatten_or_terms(tree) is None
        assert booltree.flatten_or_mixed(tree) is not None
        n_del = int(rng.integers(0, max(1, n_docs // 4)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = _ground_truth(tree, by_tid, k, deleted)
        gd, gs = booltree.evaluate_shard_topk(tree, by_tid, k, deleted=deleted)
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"
        # bit-identity with the exhaustive branch: k = n_docs + 1 leaves
        # theta at -inf, so that run scores every match exhaustively
        fd, fs = booltree.evaluate_shard_topk(
            tree, by_tid, n_docs + 1, deleted=deleted
        )
        assert np.array_equal(gd, fd[:k]) and np.array_equal(gs, fs[:k]), f"seed={seed}"
        if gd.size >= 2:
            kk = gd.size // 2
            p1d, p1s = booltree.evaluate_shard_topk(tree, by_tid, kk, deleted=deleted)
            after = (float(p1s[-1]), int(p1d[-1]))
            p2d, p2s = booltree.evaluate_shard_topk(
                tree, by_tid, kk, deleted=deleted, after=after
            )
            n2 = p2d.size
            assert np.array_equal(p2d, fd[kk : kk + n2]), f"seed={seed}"
            assert np.array_equal(p2s, fs[kk : kk + n2]), f"seed={seed}"


def test_and_groups_full_matches_mode():
    """score_and_groups(full_matches=True) returns the COMPLETE match set
    doc-ascending with scores bit-identical to the top-k mode's big-k run
    (re-sorted), including the single-group fallback."""
    for seed in range(150):
        rng = np.random.default_rng(900_000 + seed)
        n_docs = int(rng.integers(10, 70))
        n_terms = int(rng.integers(2, 6))
        by_tid, avgdl = _corpus(rng, n_docs, n_terms, int(rng.choice([4, 8])))
        n_groups = int(rng.integers(1, 4))
        groups = []
        for _ in range(n_groups):
            size = int(rng.integers(1, 4))
            groups.append([by_tid[int(rng.integers(0, n_terms))]
                           for _ in range(size)])
        fd, fs = kernels.score_and_groups(groups, 0, full_matches=True)
        assert np.all(np.diff(fd) > 0), f"seed={seed}: not doc-ascending"
        td, ts = kernels.score_and_groups(groups, n_docs + 1)
        order = np.argsort(td, kind="stable")
        assert np.array_equal(fd, td[order]), f"seed={seed}"
        assert np.array_equal(fs, ts[order]), f"seed={seed}"
