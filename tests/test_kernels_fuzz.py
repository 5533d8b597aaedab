"""Kernel-level fuzz: score_blockmax must be rank- AND score-identical to
score_exhaustive on random corpora with tiny blocks (block_size 4/8 trips
the shallow-check/skip paths constantly).

Seeds 7/21/34 reproduced the round-1 WAND unsoundness; the WAND kernel was
retired in round 3 (it never beat score_blockmax — see kernels.py), but the
seeds stay pinned against the surviving pruned kernel.
"""

import numpy as np
import pytest

from invoicenet_spark.index.codec import encode_posting_list
from invoicenet_spark.query import kernels


def _random_corpus(rng, n_docs, n_terms, block_size):
    dls_global = rng.integers(20, 400, size=n_docs).astype(np.int64)
    avgdl = float(dls_global.mean())
    plists = []
    for t in range(n_terms):
        df = int(rng.integers(1, n_docs + 1))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 20, size=df).astype(np.int64)
        row = encode_posting_list(docs, tfs, dls_global[docs], block_size=block_size)
        row["term_id"] = t
        idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
        plists.append(kernels.TermPostings(kernels.PostingList(row), idf=idf, avgdl=avgdl, k1=1.2, b=0.75))
    return plists


def _assert_kernel_matches(kernel_fn, seed):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(8, 60))
    n_terms = int(rng.integers(2, 4))
    bs = int(rng.choice([4, 8]))
    k = int(rng.integers(1, 6))
    plists = _random_corpus(rng, n_docs, n_terms, bs)
    ed, es = kernels.score_exhaustive(plists, k, "OR")
    gd, gs = kernel_fn(plists, k)
    assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
    assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}: scores differ"


@pytest.mark.parametrize("seed", [7, 21, 34])  # round-1 failure reproductions
def test_pruned_kernel_regression_seeds(seed):
    _assert_kernel_matches(kernels.score_blockmax, seed)


def test_blockmax_fuzz_vs_exhaustive():
    for seed in range(500):
        _assert_kernel_matches(kernels.score_blockmax, seed)


def test_blockmax_deletion_fuzz_vs_masked_bruteforce():
    """Tombstone soundness of the pruned kernel: with a random deletion set,
    score_blockmax(deleted=...) must be rank- AND score-identical to the
    ground truth (exhaustive scores over ALL docs, deleted rows removed,
    top-k re-ranked over the survivors). This pins the two places pruning
    interacts with deletions: theta must be seeded from LIVE docs only, and
    candidate masking must happen before top-k — a deleted doc inflating
    theta or occupying a slot would silently drop live docs."""
    for seed in range(300):
        rng = np.random.default_rng(50_000 + seed)
        n_docs = int(rng.integers(8, 60))
        n_terms = int(rng.integers(2, 4))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        plists = _random_corpus(rng, n_docs, n_terms, bs)
        n_del = int(rng.integers(0, max(1, n_docs // 2)))
        deleted = np.sort(
            rng.choice(n_docs, size=n_del, replace=False)
        ).astype(np.int64)

        # ground truth: full exhaustive scores, then drop deleted, then top-k
        full_d, full_s = kernels.score_exhaustive(plists, n_docs + 1, "OR")
        live = kernels.drop_deleted(full_d, deleted)
        ed, es = kernels.topk_select(full_d[live], full_s[live], k)

        for fn in (kernels.score_blockmax, kernels.score_exhaustive):
            gd, gs = (
                fn(plists, k, deleted=deleted)
                if fn is kernels.score_blockmax
                else fn(plists, k, "OR", deleted=deleted)
            )
            assert np.array_equal(ed, gd), f"seed={seed} {fn.__name__}: {ed} != {gd}"
            assert np.allclose(es, gs, rtol=1e-12, atol=1e-12), f"seed={seed}"


def test_phrase_and_and_deletion_masking():
    """AND and PHRASE kernels drop tombstoned docs before top-k."""
    rng = np.random.default_rng(99)
    n_docs, bs = 30, 4
    dls = rng.integers(20, 200, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())
    docs = np.arange(n_docs, dtype=np.int64)
    plists = []
    for t in range(2):
        tfs = rng.integers(1, 9, size=n_docs).astype(np.int64)
        row = encode_posting_list(docs, tfs, dls, block_size=bs)
        row["term_id"] = t
        plists.append(kernels.TermPostings(kernels.PostingList(row), idf=1.0, avgdl=avgdl, k1=1.2, b=0.75))
    ad, _ = kernels.score_exhaustive(plists, n_docs, "AND")
    deleted = ad[:3].copy()  # tombstone the top-3 AND results
    deleted.sort()
    gd, _ = kernels.score_exhaustive(plists, n_docs, "AND", deleted=deleted)
    assert not set(gd.tolist()) & set(deleted.tolist())
    assert gd.size == n_docs - 3


def test_blockmax_prunes_stopword_blocks(monkeypatch):
    """Skew scenario: one stopword list (every doc) + one rare list. The
    block-max path must not decode most of the stopword list's blocks."""
    rng = np.random.default_rng(0)
    n_docs = 20_000
    bs = 128
    dls = rng.integers(50, 300, size=n_docs).astype(np.int64)
    avgdl = float(dls.mean())

    stop_docs = np.arange(n_docs, dtype=np.int64)
    stop_tfs = rng.integers(1, 4, size=n_docs).astype(np.int64)
    stop_row = encode_posting_list(stop_docs, stop_tfs, dls, block_size=bs)
    stop_row["term_id"] = 0
    stop_idf = float(np.log((n_docs - n_docs + 0.5) / (n_docs + 0.5) + 1.0))

    rare_docs = np.sort(rng.choice(n_docs, size=40, replace=False)).astype(np.int64)
    rare_tfs = rng.integers(5, 20, size=40).astype(np.int64)
    rare_row = encode_posting_list(rare_docs, rare_tfs, dls[rare_docs], block_size=bs)
    rare_row["term_id"] = 1
    rare_idf = float(np.log((n_docs - 40 + 0.5) / (40 + 0.5) + 1.0))

    stop_tp = kernels.TermPostings(kernels.PostingList(stop_row), stop_idf, avgdl, 1.2, 0.75)
    rare_tp = kernels.TermPostings(kernels.PostingList(rare_row), rare_idf, avgdl, 1.2, 0.75)

    # every block decode the kernels make, at the shared posting list's two
    # decode sites: the batched block probe, and a full-list decode counted
    # as all of the list's blocks (memoized reads decode nothing)
    decoded_blocks = []
    batch_decode = kernels.decode_blocks_batch
    full_decode = kernels.decode_posting_list

    def counting_batch(row, blocks):
        decoded_blocks.extend((id(row), int(i)) for i in blocks)
        return batch_decode(row, blocks)

    def counting_full(row):
        decoded_blocks.extend((id(row), i) for i in range(len(row["block_last"])))
        return full_decode(row)

    monkeypatch.setattr(kernels, "decode_blocks_batch", counting_batch)
    monkeypatch.setattr(kernels, "decode_posting_list", counting_full)
    gd, gs = kernels.score_blockmax([stop_tp, rare_tp], 10)
    monkeypatch.undo()

    ed, es = kernels.score_exhaustive([stop_tp, rare_tp], 10, "OR")
    assert np.array_equal(ed, gd) and np.allclose(es, gs)
    n_stop_blocks = stop_tp.postings.n_blocks
    n_decoded_stop = len({b for o, b in decoded_blocks if o == id(stop_row)})
    assert n_decoded_stop > 0  # the counters see the probe's decodes
    # rare term dominates scores → only the ~40 rare-doc segments (plus the
    # first chunk) should force stopword block decodes
    assert n_decoded_stop < n_stop_blocks * 0.9, (
        f"decoded {n_decoded_stop}/{n_stop_blocks} stopword blocks — no pruning"
    )


def test_shared_decoded_arrays_are_read_only():
    """Every array a shared PostingList hands out — full decode, probed
    blocks, positions, skip table, bound inputs — refuses writes, so no
    query can corrupt another's postings."""
    docs = np.array([2, 5, 9, 14, 20, 31, 40], dtype=np.int64)
    positions = [np.array([1, 4]), np.array([0]), np.array([3, 7, 8]), np.array([2]),
                 np.array([5]), np.array([1, 6]), np.array([9])]
    row, _ = _encode_positional(docs, positions, np.full(docs.size, 12, dtype=np.int64))
    probed = kernels.PostingList(row)
    blocks = probed.blocks(np.array([0], dtype=np.int64))
    full = kernels.PostingList(row)
    d, tfs, dls = full.decode_all()
    pos, offs = full.decode_positions(tfs)
    arrays = [*blocks[0], d, tfs, dls, pos, offs, full.block_last, *full.bound_inputs]
    for a in arrays:
        with pytest.raises(ValueError, match="read-only"):
            a[0] = 1
    assert full.decode_all()[0] is d  # memoized: one decode per list
    # a full decode retires the block cache; probes then read the full arrays
    probed.decode_all()
    assert probed._blocks is None
    tp = kernels.TermPostings(probed, 1.0, 12.0, 1.2, 0.75)
    hit, t, _ = kernels._probe_list(tp, np.array([5, 6, 40], dtype=np.int64))
    assert hit.tolist() == [True, False, True] and t.tolist() == [1, 1]


def _encode_positional(docs, positions_list, dls):
    """Build a posting row WITH positions, through the codec's encoder."""
    tfs = np.array([len(p) for p in positions_list], dtype=np.int64)
    row = encode_posting_list(
        docs, tfs, dls, block_size=8, positions=np.concatenate(positions_list)
    )
    return row, tfs


def test_phrase_fuzz_vs_token_scan():
    """phrase_matches' vectorized slot intersection vs a brute-force python
    token scan over random corpora."""
    for seed in range(120):
        rng = np.random.default_rng(1000 + seed)
        n_docs = int(rng.integers(4, 25))
        vocab = [f"t{i}" for i in range(int(rng.integers(3, 8)))]
        docs_tokens = {
            d: [vocab[i] for i in rng.integers(0, len(vocab), size=rng.integers(3, 30))]
            for d in range(n_docs)
        }
        phrase_len = int(rng.integers(2, 4))
        phrase = [vocab[i] for i in rng.integers(0, len(vocab), size=phrase_len)]

        dls = np.array([len(docs_tokens[d]) for d in range(n_docs)], dtype=np.int64)
        avgdl = float(dls.mean())
        plists = []
        feasible = True
        for slot, term in enumerate(phrase):
            docs, poss = [], []
            for d in range(n_docs):
                p = [i for i, t in enumerate(docs_tokens[d]) if t == term]
                if p:
                    docs.append(d)
                    poss.append(np.array(p, dtype=np.int64))
            if not docs:
                feasible = False
                break
            darr = np.array(docs, dtype=np.int64)
            row, _ = _encode_positional(darr, poss, dls[darr])
            row["term_id"] = vocab.index(term)
            df = darr.size
            idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
            plists.append(kernels.TermPostings(kernels.PostingList(row), idf, avgdl, 1.2, 0.75))
        if not feasible:
            continue
        got_docs = kernels.phrase_matches(plists, [tp.decode_all() for tp in plists])
        expect = sorted(
            d
            for d, toks in docs_tokens.items()
            if any(
                toks[i : i + phrase_len] == phrase
                for i in range(len(toks) - phrase_len + 1)
            )
        )
        assert sorted(got_docs.tolist()) == expect, (
            f"seed={seed} phrase={phrase}: got {sorted(got_docs.tolist())} expect {expect}"
        )


def test_near_fuzz_vs_token_scan():
    """near_matches' greedy chain vs a brute-force python scan: a doc matches
    iff SOME ordered occurrence chain spans <= (n-1)+slop. The brute force
    enumerates every start and greedily chains (greedy minimizes the final
    span for a fixed start, so it is exact on both sides — the point of the
    fuzz is the vectorized bookkeeping, not the algorithm)."""
    def brute_near(toks, terms, slop):
        n = len(terms)
        for i, t in enumerate(toks):
            if t != terms[0]:
                continue
            cur = i
            ok = True
            for term in terms[1:]:
                nxt = next((j for j in range(cur + 1, len(toks)) if toks[j] == term), None)
                if nxt is None:
                    ok = False
                    break
                cur = nxt
            if ok and cur - i <= n - 1 + slop:
                return True
        return False

    for seed in range(150):
        rng = np.random.default_rng(7000 + seed)
        n_docs = int(rng.integers(4, 25))
        vocab = [f"t{i}" for i in range(int(rng.integers(3, 8)))]
        docs_tokens = {
            d: [vocab[i] for i in rng.integers(0, len(vocab), size=rng.integers(3, 30))]
            for d in range(n_docs)
        }
        q_len = int(rng.integers(2, 4))
        q_terms = [vocab[i] for i in rng.integers(0, len(vocab), size=q_len)]
        slop = int(rng.integers(0, 6))

        dls = np.array([len(docs_tokens[d]) for d in range(n_docs)], dtype=np.int64)
        avgdl = float(dls.mean())
        plists = []
        feasible = True
        for term in q_terms:
            docs, poss = [], []
            for d in range(n_docs):
                p = [i for i, t in enumerate(docs_tokens[d]) if t == term]
                if p:
                    docs.append(d)
                    poss.append(np.array(p, dtype=np.int64))
            if not docs:
                feasible = False
                break
            darr = np.array(docs, dtype=np.int64)
            row, _ = _encode_positional(darr, poss, dls[darr])
            row["term_id"] = vocab.index(term)
            df = darr.size
            idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
            plists.append(kernels.TermPostings(kernels.PostingList(row), idf, avgdl, 1.2, 0.75))
        if not feasible:
            continue
        got_docs = kernels.near_matches(plists, [tp.decode_all() for tp in plists], slop)
        expect = sorted(
            d for d, toks in docs_tokens.items() if brute_near(toks, q_terms, slop)
        )
        assert sorted(got_docs.tolist()) == expect, (
            f"seed={seed} terms={q_terms} slop={slop}: "
            f"got {sorted(got_docs.tolist())} expect {expect}"
        )


def test_near_unordered_fuzz_vs_selection_scan():
    """Unordered NEAR (ordered=False) vs a brute force that enumerates every
    per-slot position selection and checks max-min <= (n-1)+slop — the
    definition, with no windowing cleverness on the reference side."""
    from itertools import product

    def brute_unordered(toks, terms, slop):
        n = len(terms)
        pos_lists = []
        for t in terms:
            p = [i for i, tok in enumerate(toks) if tok == t]
            if not p:
                return False
            pos_lists.append(p)
        return any(
            max(sel) - min(sel) <= n - 1 + slop for sel in product(*pos_lists)
        )

    checked = 0
    for seed in range(150):
        rng = np.random.default_rng(8100 + seed)
        n_docs = int(rng.integers(4, 25))
        vocab = [f"t{i}" for i in range(int(rng.integers(3, 8)))]
        docs_tokens = {
            d: [vocab[i] for i in rng.integers(0, len(vocab), size=rng.integers(3, 30))]
            for d in range(n_docs)
        }
        q_len = int(rng.integers(2, 4))
        # distinct terms: repeated slots in unordered NEAR share occurrences
        # (documented degenerate case) — the contract is over distinct terms
        q_terms = list(
            dict.fromkeys(vocab[i] for i in rng.integers(0, len(vocab), size=q_len))
        )
        slop = int(rng.integers(0, 6))

        dls = np.array([len(docs_tokens[d]) for d in range(n_docs)], dtype=np.int64)
        avgdl = float(dls.mean())
        plists = []
        feasible = True
        for term in q_terms:
            docs, poss = [], []
            for d in range(n_docs):
                p = [i for i, t in enumerate(docs_tokens[d]) if t == term]
                if p:
                    docs.append(d)
                    poss.append(np.array(p, dtype=np.int64))
            if not docs:
                feasible = False
                break
            darr = np.array(docs, dtype=np.int64)
            row, _ = _encode_positional(darr, poss, dls[darr])
            row["term_id"] = vocab.index(term)
            df = darr.size
            idf = float(np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0))
            plists.append(kernels.TermPostings(kernels.PostingList(row), idf, avgdl, 1.2, 0.75))
        if not feasible or len(plists) < 2:
            continue
        checked += 1
        decoded = [tp.decode_all() for tp in plists]
        got_docs = kernels.near_matches(plists, decoded, slop, ordered=False)
        expect = sorted(
            d
            for d, toks in docs_tokens.items()
            if brute_unordered(toks, q_terms, slop)
        )
        assert sorted(got_docs.tolist()) == expect, (
            f"seed={seed} terms={q_terms} slop={slop}: "
            f"got {sorted(got_docs.tolist())} expect {expect}"
        )
        # order-tolerance is a superset of ordered matching
        got_ordered = kernels.near_matches(plists, decoded, slop, ordered=True)
        assert set(got_ordered.tolist()) <= set(got_docs.tolist())
    assert checked >= 60


def test_and_groups_flat_bitidentical_to_exhaustive_and():
    """score_and_groups with single-leaf groups IS the flat AND kernel:
    bit-identical docs AND scores to score_exhaustive(mode='AND') across
    random corpora, deletions, and cursors — the contract that lets the
    flat AND path switch to block-probe skipping without changing a bit."""
    for seed in range(400):
        rng = np.random.default_rng(200_000 + seed)
        n_docs = int(rng.integers(8, 60))
        n_terms = int(rng.integers(2, 4))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        plists = _random_corpus(rng, n_docs, n_terms, bs)
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = kernels.score_exhaustive(plists, k, "AND", deleted=deleted)
        gd, gs = kernels.score_and_groups(
            [[tp] for tp in plists], k, deleted=deleted
        )
        assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
        assert np.array_equal(es, gs), f"seed={seed}: float drift"

        # cursor composition: page 2 from page 1's cursor, vs exhaustive
        if ed.size:
            after = (float(es[-1]), int(ed[-1]))
            e2 = kernels.score_exhaustive(plists, k, "AND", deleted=deleted, after=after)
            g2 = kernels.score_and_groups(
                [[tp] for tp in plists], k, deleted=deleted, after=after
            )
            assert np.array_equal(e2[0], g2[0]) and np.array_equal(e2[1], g2[1])


def test_min_match_groups_bitidentical_to_exhaustive_mm():
    """score_and_groups(min_groups=m) with single-leaf groups IS the
    min_match OR kernel: by pigeonhole a doc matching >= m of n lists
    appears in the union of the n-m+1 smallest, so that union seeds
    candidates and only the m-1 largest lists are probed — bit-identical
    docs AND scores to score_exhaustive(mode='OR', min_match=m), across
    deletions and cursors."""
    for seed in range(400):
        rng = np.random.default_rng(500_000 + seed)
        n_docs = int(rng.integers(8, 60))
        n_terms = int(rng.integers(2, 6))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        m = int(rng.integers(2, n_terms + 1))
        plists = _random_corpus(rng, n_docs, n_terms, bs)
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        ed, es = kernels.score_exhaustive(
            plists, k, "OR", deleted=deleted, min_match=m
        )
        gd, gs = kernels.score_and_groups(
            [[tp] for tp in plists], k, deleted=deleted, min_groups=m
        )
        assert np.array_equal(ed, gd), f"seed={seed} m={m}: docs {ed} != {gd}"
        assert np.array_equal(es, gs), f"seed={seed} m={m}: float drift"
        if ed.size:
            after = (float(es[-1]), int(ed[-1]))
            e2 = kernels.score_exhaustive(
                plists, k, "OR", deleted=deleted, min_match=m, after=after
            )
            g2 = kernels.score_and_groups(
                [[tp] for tp in plists], k, deleted=deleted, min_groups=m,
                after=after,
            )
            assert np.array_equal(e2[0], g2[0]) and np.array_equal(e2[1], g2[1])


def test_blockmax_cursor_fuzz_vs_exhaustive():
    """Cursored pages keep the PRUNED kernel (round 6): score_blockmax with
    after= must return bit-identical docs/scores to score_exhaustive with
    the same cursor, across random corpora, deletions, and cursors minted
    by either kernel — so page 2+ of a stopword-bearing OR no longer
    decodes what page 1 skipped."""
    import numpy as np

    for seed in range(400):
        rng = np.random.default_rng(600_000 + seed)
        n_docs = int(rng.integers(8, 60))
        n_terms = int(rng.integers(2, 4))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        plists = _random_corpus(rng, n_docs, n_terms, bs)
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        # page 1 both kernels (existing contract), then chase pages until
        # the result set drains, comparing each page bit-for-bit
        after = None
        for _page in range(6):
            ed, es = kernels.score_exhaustive(
                plists, k, "OR", deleted=deleted, after=after
            )
            gd, gs = kernels.score_blockmax(
                plists, k, deleted=deleted, after=after
            )
            assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
            assert np.array_equal(es, gs), f"seed={seed}: float drift"
            if ed.size == 0:
                break
            after = (float(es[-1]), int(ed[-1]))


def test_blockmax_materialized_parts_fuzz(monkeypatch):
    """score_blockmax over random mixes of TermPostings and (docs, scores)
    materialized parts — the shape BOOL disjunctions with phrase/AND/NOT
    clauses hand it — with tombstones and chased cursor pages: docs AND
    scores bit-identical to score_exhaustive over the same parts. The
    pruned (non-fallback) branch must actually run in a good share of the
    trials."""
    fallbacks = []
    exhaustive = kernels.score_exhaustive

    def counting(*args, **kw):
        fallbacks.append(1)
        return exhaustive(*args, **kw)

    pruned_runs = 0
    for seed in range(400):
        rng = np.random.default_rng(700_000 + seed)
        n_docs = int(rng.integers(8, 80))
        bs = int(rng.choice([4, 8]))
        k = int(rng.integers(1, 6))
        parts = _random_corpus(rng, n_docs, int(rng.integers(0, 4)), bs)
        for _ in range(int(rng.integers(1, 4))):
            df = int(rng.integers(1, n_docs + 1))
            docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
            parts.append((docs, rng.random(df) * float(rng.choice([0.5, 3.0, 12.0]))))
        parts = [parts[i] for i in rng.permutation(len(parts))]
        n_del = int(rng.integers(0, max(1, n_docs // 3)))
        deleted = (
            np.sort(rng.choice(n_docs, size=n_del, replace=False)).astype(np.int64)
            if n_del
            else None
        )
        after = None
        for _page in range(4):
            ed, es = exhaustive(parts, k, "OR", deleted=deleted, after=after)
            fallbacks.clear()
            with monkeypatch.context() as m:
                m.setattr(kernels, "score_exhaustive", counting)
                gd, gs = kernels.score_blockmax(parts, k, deleted=deleted, after=after)
            pruned_runs += not fallbacks
            assert np.array_equal(ed, gd), f"seed={seed}: docs {ed} != {gd}"
            assert np.array_equal(es, gs), f"seed={seed}: float drift"
            if ed.size == 0:
                break
            after = (float(es[-1]), int(ed[-1]))
    assert pruned_runs >= 150, pruned_runs
