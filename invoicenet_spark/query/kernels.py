"""Pure numpy query kernels: gallop intersection, exhaustive scoring, and
block-max WAND. No Spark imports — unit-testable standalone. run_shard is
the one per-(query, shard) router both query paths call (the Spark path
inside applyInPandas, the serving path in its per-query loop).

Reference analog (SURVEY.md §2.6 J4, §2.7 A1, §2.8 K1): the query-term ∩
candidate intersection is the reference's memory-mask (model.py:124-125);
scoring is the masked global softmax (sum of per-candidate partials,
model.py:127-131); top-k generalizes the argmax decode (acp.py:117).
WAND pruning ≈ masking non-candidates before the softmax.

Block-max WAND follows Ding & Suel (SIGIR 2011): document-at-a-time pivot
selection on list upper bounds, with per-block (max_tf, min_dl) bounds
(codec.py) for the shallow check; the control loop is per *evaluated
candidate* (already pruned), all decode/score math inside is vectorized.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np

from invoicenet_spark.index import bm25
from invoicenet_spark.index.codec import decode_block, decode_positions, decode_posting_list


def drop_deleted(docs: np.ndarray, deleted: np.ndarray | None) -> np.ndarray:
    """Boolean KEEP mask over a sorted-or-not doc array vs a SORTED tombstone
    array (index/deletes.py). Vectorized membership via searchsorted."""
    if deleted is None or deleted.size == 0 or docs.size == 0:
        return np.ones(docs.size, dtype=bool)
    idx = np.minimum(np.searchsorted(deleted, docs), deleted.size - 1)
    return deleted[idx] != docs


def apply_after(
    docs: np.ndarray, scores: np.ndarray, after: tuple[float, int] | None
) -> tuple[np.ndarray, np.ndarray]:
    """search_after pagination cursor: keep only docs STRICTLY after
    (after_score, after_doc) in the result order (score desc, doc_id asc).
    Applied before each shard's top-k selection, so page N+1's k slots are
    filled from genuinely-after docs — a post-hoc filter on a top-k result
    would under-fill. Scores are float64 bit-stable across identical
    queries, so the previous page's last row is an exact cursor."""
    if after is None:
        return docs, scores
    s_a, d_a = after
    keep = (scores < s_a) | ((scores == s_a) & (docs > d_a))
    return docs[keep], scores[keep]


def gallop_intersect(lists: list[np.ndarray]) -> np.ndarray:
    """Intersect sorted int64 arrays, smallest-first, via vectorized binary
    search (np.searchsorted == batched galloping)."""
    lists = sorted(lists, key=len)
    out = lists[0]
    for arr in lists[1:]:
        if out.size == 0:
            return out
        idx = np.searchsorted(arr, out)
        idx_c = np.minimum(idx, arr.size - 1)
        out = out[arr[idx_c] == out]
    return out


def topk_select(doc_ids: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k by (score desc, doc_id asc) — deterministic tie-break."""
    if doc_ids.size == 0:
        return doc_ids[:0], scores[:0]
    k = min(k, doc_ids.size)
    if doc_ids.size > max(4 * k, 1024):
        # O(n) partial select first: anything below the k-th score can never
        # place; ties AT the threshold are all kept so the doc_id tie-break
        # stays exact in the (small) lexsort below
        kth = np.partition(scores, scores.size - k)[scores.size - k]
        mask = scores >= kth
        doc_ids, scores = doc_ids[mask], scores[mask]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


class TermPostings:
    """Decoded-on-demand view over one (term, shard) posting row dict."""

    def __init__(self, row: dict, idf: float, avgdl: float, k1: float, b: float):
        self.row = row
        self.idf = float(idf)
        self.avgdl = avgdl
        self.k1, self.b = k1, b
        self.block_last = np.asarray(row["block_last"], dtype=np.int64)
        self.n_blocks = self.block_last.size

    @cached_property
    def block_ub(self) -> np.ndarray:
        """Per-block score upper bounds — computed on first use: only the
        pruned disjunctive kernels read them."""
        return bm25.block_upper_bound(
            self.idf,
            np.asarray(self.row["block_max_tf"], dtype=np.float64),
            np.asarray(self.row["block_min_dl"], dtype=np.float64),
            self.avgdl,
            self.k1,
            self.b,
        )

    @cached_property
    def list_ub(self) -> float:
        """List-level upper bound = max over block bounds."""
        return float(self.block_ub.max())

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return decode_posting_list(self.row)

    def decode_one_block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return decode_block(self.row, i)

    def decode_positions(self, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return decode_positions(self.row, tfs)


def score_exhaustive(
    plists: list[TermPostings],
    k: int,
    mode: str = "OR",
    deleted: np.ndarray | None = None,
    min_match: int = 0,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized exhaustive scoring of one shard.

    after: search_after pagination cursor (see apply_after).

    min_match (OR mode): keep only docs matching >= min_match DISTINCT query
    terms (Lucene minimumNumberShouldMatch). Correct per shard because a doc
    lives in exactly one shard, so its full term-match count is visible to
    that shard's kernel. 0/1 = plain OR; AND is min_match == n by other
    means (intersection first).

    Posting rows are self-contained (per-posting doc_len stream), so no
    forward-index side input is needed. Deterministic accumulation:
    per-term partials added in caller-supplied list order (callers sort
    by term_id).

    deleted: sorted tombstone doc_ids for THIS shard (index/deletes.py) —
    masked before top-k selection so tombstoned docs never displace live
    ones from a shard's k slots.
    """
    if not plists:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    decoded = [tp.decode_all() for tp in plists]

    if mode == "AND":
        # intersect-then-score: gallop the doc sets first, then gather
        # (tf, dl) for survivors only — skips scoring the union
        keep = gallop_intersect([d[0] for d in decoded])
        keep = keep[drop_deleted(keep, deleted)]
        if keep.size == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0)
        agg = np.zeros(keep.size, dtype=np.float64)
        for tp, (docs, tfs, dls) in zip(plists, decoded):
            j = np.searchsorted(docs, keep)
            agg += tp.idf * bm25.tf_score(tfs[j], dls[j], tp.avgdl, tp.k1, tp.b)
        keep, agg = apply_after(keep, agg, after)
        return topk_select(keep, agg, k)

    all_docs, all_scores = [], []
    for tp, (docs, tfs, dls) in zip(plists, decoded):
        s = tp.idf * bm25.tf_score(tfs, dls, tp.avgdl, tp.k1, tp.b)
        all_docs.append(docs)
        all_scores.append(s)
    docs_cat = np.concatenate(all_docs)
    scores_cat = np.concatenate(all_scores)
    uniq, inv = np.unique(docs_cat, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, scores_cat)
    if min_match > 1:
        # each decoded list contributes one row per doc, so bincount over
        # the inverse index IS the distinct-term match count
        cnt = np.bincount(inv, minlength=uniq.size)
        hit = cnt >= min_match
        uniq, agg = uniq[hit], agg[hit]
    live = drop_deleted(uniq, deleted)
    uniq, agg = apply_after(uniq[live], agg[live], after)
    return topk_select(uniq, agg, k)


def score_phrase(
    plists_by_qpos: list[TermPostings],
    k: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact phrase query over a positional index.

    plists_by_qpos: one posting view per phrase slot, in phrase order
    (repeated terms appear once per slot). A doc matches iff some position
    p has slot i's term at p+i for every i. Matching docs are then scored
    with plain BM25 over the phrase's distinct terms (standard semantics:
    the phrase is a filter, not a scoring unit).
    """
    if not plists_by_qpos:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    decoded = [tp.decode_all() for tp in plists_by_qpos]
    match_arr = phrase_matches(plists_by_qpos, decoded, deleted=deleted)
    if match_arr.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    return _bm25_over_matches(plists_by_qpos, decoded, match_arr, k, after=after)


_SHIFT_BITS = np.int64(32)
_SHIFT = np.int64(1) << _SHIFT_BITS


def _slot_key_arrays(decoded, plists_by_qpos, cand, align: bool):
    """Per slot, the flat sorted key array
        key = candidate_index * 2^32 + (position [- slot i when align])
    (positions are doc-local token ordinals ≪ 2^32; cand indices ≪ 2^31).
    Shared by PHRASE (align=True: slot i maps to its phrase start) and NEAR
    (align=False: raw positions). No per-candidate Python loop."""
    positions = [
        tp.decode_positions(decoded[i][1]) for i, tp in enumerate(plists_by_qpos)
    ]
    key_arrays = []
    for i, ((docs_i, _, _), (pos_flat, off)) in enumerate(zip(decoded, positions)):
        j = np.searchsorted(docs_i, cand)
        starts = off[j]
        lens = (off[j + 1] - starts).astype(np.int64)
        total = int(lens.sum())
        cum = np.cumsum(lens)
        gather = np.arange(total, dtype=np.int64) + np.repeat(
            starts - np.concatenate(([np.int64(0)], cum[:-1])), lens
        )
        p = pos_flat[gather].astype(np.int64)
        ci = np.repeat(np.arange(cand.size, dtype=np.int64), lens)
        if align:
            p = p - np.int64(i)
            ok = p >= 0
            ci, p = ci[ok], p[ok]
        key_arrays.append(ci * _SHIFT + p)  # sorted by construction
    return key_arrays


def phrase_matches(
    plists_by_qpos: list[TermPostings],
    decoded,
    deleted: np.ndarray | None = None,
) -> np.ndarray:
    """Docs of this shard containing the exact phrase — the FULL match list
    (no top-k), so boolean-tree phrase leaves can compose it."""
    cand = gallop_intersect([d[0] for d in decoded])
    # mask tombstones BEFORE the (expensive) position alignment — deleted
    # docs shouldn't pay for slot checks they can never survive
    cand = cand[drop_deleted(cand, deleted)]
    if cand.size == 0:
        return cand
    # A phrase start survives iff its aligned key appears in EVERY slot's
    # array — the same sorted-array intersection as the doc-level gallop.
    key_arrays = _slot_key_arrays(decoded, plists_by_qpos, cand, align=True)
    surviving = gallop_intersect(key_arrays)
    if surviving.size == 0:
        return surviving
    return cand[np.unique(surviving >> _SHIFT_BITS)]


def bm25_scores_at(
    plists: list[TermPostings],
    decoded,
    match_arr: np.ndarray,
    avgdl_override: float | None = None,
) -> np.ndarray:
    """BM25 over the query's distinct terms (a slot's term may repeat),
    restricted to the proximity-matching docs; accumulated in deterministic
    term_id order. Standard semantics: proximity is a FILTER, scoring stays
    plain BM25 (shared by PHRASE and NEAR, and by boolean-tree proximity
    leaves which need the full match list, not a top-k). avgdl_override:
    fielded phrase leaves normalize by their FIELD's average length."""
    scores = np.zeros(match_arr.size, dtype=np.float64)
    by_tid = {int(tp.row["term_id"]): (tp, dec) for tp, dec in zip(plists, decoded)}
    for tid in sorted(by_tid):
        tp, (docs_i, tfs_i, dls_i) = by_tid[tid]
        j = np.searchsorted(docs_i, match_arr)
        avgdl = avgdl_override if avgdl_override is not None else tp.avgdl
        scores += tp.idf * bm25.tf_score(tfs_i[j], dls_i[j], avgdl, tp.k1, tp.b)
    return scores


def _bm25_over_matches(
    plists: list[TermPostings],
    decoded,
    match_arr: np.ndarray,
    k: int,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    scores = bm25_scores_at(plists, decoded, match_arr)
    match_arr, scores = apply_after(match_arr, scores, after)
    return topk_select(match_arr, scores, k)


def score_near(
    plists_by_qpos: list[TermPostings],
    k: int,
    slop: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    ordered: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Proximity query (NEAR/slop) over a positional index.

    ordered=True: a doc matches iff its tokens contain the query terms IN
    ORDER at strictly increasing positions p1 < … < pn with span
    pn - p1 <= (n-1) + slop. slop=0 degenerates to PHRASE exactly (an
    n-chain of strictly increasing ints spanning n-1 is consecutive —
    pinned by test).

    ordered=False (Lucene SpanNear ordered=false / classic slop): terms may
    appear in ANY order — a doc matches iff some choice p_i from each
    slot's positions has max(p) - min(p) <= (n-1) + slop. ("new york"~2
    order-tolerant.) For repeated terms the slots share occurrences
    (degenerate but documented; use ordered for strict repeats).

    Matching docs score plain BM25 over the distinct terms, like PHRASE.
    """
    n = len(plists_by_qpos)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    if n == 1:
        return score_exhaustive(plists_by_qpos, k, "OR", deleted=deleted, after=after)
    decoded = [tp.decode_all() for tp in plists_by_qpos]
    match_arr = near_matches(
        plists_by_qpos, decoded, slop, deleted=deleted, ordered=ordered
    )
    if match_arr.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    return _bm25_over_matches(plists_by_qpos, decoded, match_arr, k, after=after)


def near_matches(
    plists_by_qpos: list[TermPostings],
    decoded,
    slop: int,
    deleted: np.ndarray | None = None,
    ordered: bool = True,
) -> np.ndarray:
    """FULL NEAR match list for one shard (no top-k) — composable by
    boolean-tree proximity leaves.

    Ordered: vectorized greedy chain, no per-candidate Python: level 1
    enumerates every occurrence of slot 1 across all candidate docs as
    sorted (doc_idx << 32 | pos) keys; each later level advances every live
    chain to the smallest same-doc position of its slot strictly greater
    than the chain's current position — ONE searchsorted per level. Greedy
    is exact: for a fixed start, taking the smallest feasible next position
    at every level minimizes the final span, so a doc matches iff some
    start's greedy span meets the bound.

    Unordered: minimal-window cover over the same flat key arrays. A doc
    matches iff some window [p, p+W] (W = n-1+slop) contains a position
    from every slot; it suffices to test windows STARTING at actual
    occurrences (the window anchored at the selection's min position
    witnesses any valid selection). For each of the m occurrence keys, one
    searchsorted per slot asks "does slot s have a position in [p, p+W] in
    the same doc?" — n searchsorteds over m keys total, no per-doc loop.
    """
    n = len(plists_by_qpos)
    cand = gallop_intersect([d[0] for d in decoded])
    cand = cand[drop_deleted(cand, deleted)]
    if cand.size == 0:
        return cand
    keys = _slot_key_arrays(decoded, plists_by_qpos, cand, align=False)
    W = np.int64(n - 1 + slop)

    if not ordered:
        anchors = np.unique(np.concatenate(keys))
        ok = np.ones(anchors.size, dtype=bool)
        for s in range(n):
            idx = np.searchsorted(keys[s], anchors, side="left")
            has = idx < keys[s].size
            nxt = keys[s][np.minimum(idx, keys[s].size - 1)]
            # same candidate doc and within the window
            has &= (nxt >> _SHIFT_BITS) == (anchors >> _SHIFT_BITS)
            has &= (nxt - anchors) <= W
            ok &= has
            if not ok.any():
                return np.zeros(0, dtype=np.int64)
        return cand[np.unique(anchors[ok] >> _SHIFT_BITS)]

    cur = keys[0]
    start_pos = cur & (_SHIFT - 1)
    for i in range(1, n):
        idx = np.searchsorted(keys[i], cur, side="right")
        ok = idx < keys[i].size
        nxt = keys[i][np.minimum(idx, keys[i].size - 1)]
        ok &= (nxt >> _SHIFT_BITS) == (cur >> _SHIFT_BITS)  # same candidate doc
        cur, start_pos = nxt[ok], start_pos[ok]
        if cur.size == 0:
            return np.zeros(0, dtype=np.int64)
    span = (cur & (_SHIFT - 1)) - start_pos
    hit = span <= W
    if not hit.any():
        return np.zeros(0, dtype=np.int64)
    return cand[np.unique(cur[hit] >> _SHIFT_BITS)]


def _probe_scores(
    plists: list[TermPostings],
    caches: list[dict],
    cand: np.ndarray,
) -> np.ndarray:
    """FULL BM25 scores for the sorted candidate doc array, decoding only the
    blocks that can contain a candidate (block-granular random access via the
    skip table). Accumulation is per list in plists order — identical float
    order to score_exhaustive."""
    from invoicenet_spark.index.codec import decode_blocks_batch

    scores = np.zeros(cand.size, dtype=np.float64)
    for li, tp in enumerate(plists):
        r = _probe_list(tp, caches[li], cand)
        if r is not None:
            hit, tfs, dls = r
            scores[hit] += tp.idf * bm25.tf_score(tfs, dls, tp.avgdl, tp.k1, tp.b)
    return scores


def _probe_list(tp: TermPostings, cache: dict, cand: np.ndarray):
    """Block-granular random access into ONE posting list at a sorted
    candidate array: decodes only blocks that can contain a candidate
    (filling `cache`, keyed by block index) and returns
    (hit_mask_over_cand, tfs_at_hits, dls_at_hits), or None when no
    candidate lands in the list. The shared primitive behind MaxScore
    probing (_probe_scores) and the conjunctive kernel's interleaved
    scoring — both must add the same operands in the same order."""
    from invoicenet_spark.index.codec import decode_blocks_batch

    jb = np.searchsorted(tp.block_last, cand, side="left")
    ok = jb < tp.n_blocks
    if not ok.any():
        return None
    needed = np.unique(jb[ok])
    missing = np.array([j for j in needed if int(j) not in cache], dtype=np.int64)
    if missing.size:
        # ONE batched varbyte decode for every missing block — per-block
        # python decode costs ~0.1 ms of loop overhead each, which ties
        # the pruned path with exhaustive instead of beating it
        bd, bt, bl, offs = decode_blocks_batch(tp.row, missing)
        for bi, j in enumerate(missing):
            sl = slice(offs[bi], offs[bi + 1])
            cache[int(j)] = (bd[sl], bt[sl], bl[sl])
    parts = [cache[int(j)] for j in needed]  # block ids ascending → docs ascending
    d = np.concatenate([p[0] for p in parts])
    t = np.concatenate([p[1] for p in parts])
    l = np.concatenate([p[2] for p in parts])
    idx_c = np.minimum(np.searchsorted(d, cand), d.size - 1)
    hit = d[idx_c] == cand
    if not hit.any():
        return None
    h = idx_c[hit]
    return hit, t[h], l[h]


def _probe_membership(
    plists: list[TermPostings],
    caches: list[dict],
    cand: np.ndarray,
) -> np.ndarray:
    """Boolean mask over the sorted candidate array: does the doc appear in
    AT LEAST ONE of these posting lists? Decodes only the blocks that can
    contain a candidate (same skip-table random access as _probe_scores,
    sharing its per-list block caches) — the membership half of the
    conjunctive probe."""
    from invoicenet_spark.index.codec import decode_blocks_batch

    hit_any = np.zeros(cand.size, dtype=bool)
    for li, tp in enumerate(plists):
        jb = np.searchsorted(tp.block_last, cand, side="left")
        ok = jb < tp.n_blocks
        if not ok.any():
            continue
        cache = caches[li]
        needed = np.unique(jb[ok])
        missing = np.array([j for j in needed if int(j) not in cache], dtype=np.int64)
        if missing.size:
            bd, bt, bl, offs = decode_blocks_batch(tp.row, missing)
            for bi, j in enumerate(missing):
                sl = slice(offs[bi], offs[bi + 1])
                cache[int(j)] = (bd[sl], bt[sl], bl[sl])
        parts = [cache[int(j)] for j in needed]
        d = np.concatenate([p[0] for p in parts])
        idx = np.minimum(np.searchsorted(d, cand), d.size - 1)
        hit_any |= d[idx] == cand
    return hit_any


def score_and_groups(
    groups: list[list[TermPostings]],
    k: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    min_groups: int | None = None,
    full_matches: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Conjunction of disjunction-groups with block-granular skipping: a doc
    matches iff it appears in >= 1 list of EVERY group; matching docs score
    the full BM25 sum over ALL lists (per-leaf idf carries any boost, per
    -leaf avgdl any field normalization). Flat AND is the special case of
    single-leaf groups.

    This is structural pruning, not score pruning — no theta, no bound
    math, EVERY match is scored — so it composes with cursors (apply_after
    runs on the complete match set) and is EXACT by construction. The win
    is decode skipping: candidates seed from the smallest group's union,
    and every other group is probed block-granularly (only blocks
    containing a surviving candidate are decoded), so `rare AND stopword`
    never decodes the bulk of the stopword list. Candidates shrink
    group-by-group in ascending-size order, cheapest-first.

    Float contract: scores accumulate per list in the caller's flat
    (group-major) list order over the final sorted candidate array —
    IDENTICAL operand order to score_exhaustive(mode='AND') for
    single-leaf groups (fuzz-pinned bit-equal), so switching the flat AND
    path to this kernel changes no score bit.

    Decode-strategy guard, per group: block probing decodes ≈ one block
    (block_size postings) per candidate, so it only pays when
    2·cand < the group's block count (expected decode under ~half the
    list); otherwise the group is decoded fully once and gathered — same
    floats either way (see the scoring loop's order contract).

    min_groups=m generalizes the conjunction to Lucene's
    minimumNumberShouldMatch: a doc matches iff it appears in >= m of the
    n groups (m=n is AND, the default). Still exact structural pruning,
    by pigeonhole: any doc in >= m groups must appear in the union of the
    n-m+1 smallest groups, so that union seeds the candidates and only
    the m-1 largest groups are membership-probed; candidates are dropped
    as soon as matched + remaining < m. Scores remain the full OR sum
    over every list the doc matches — bit-identical to
    score_exhaustive(mode='OR', min_match=m) for single-leaf groups
    (fuzz-pinned).

    full_matches=True returns the COMPLETE match set doc-ascending
    (k/after ignored) instead of top-k — this is how an AND subtree
    inside a disjunction materializes into a pseudo posting list for
    score_mixed_or while keeping the block-probed decode skipping (the
    walk would decode its stopword clauses fully)."""
    groups = [g for g in groups if g]  # a leafless group can never match
    n = len(groups)
    m = n if min_groups is None else int(min_groups)
    if n == 0 or m > n:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    m = max(m, 1)
    flat = [tp for g in groups for tp in g]
    if n == 1:
        if full_matches:
            # complete doc-ascending match set of a plain OR group: the
            # same per-list gather order over the sorted union as the
            # main scoring loop below (float contract preserved)
            decs = [tp.decode_all() for tp in flat]
            parts = [d[0] for d in decs if d[0].size]
            if not parts:
                return np.zeros(0, dtype=np.int64), np.zeros(0)
            cand = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
            cand = cand[drop_deleted(cand, deleted)]
            if cand.size == 0:
                return np.zeros(0, dtype=np.int64), np.zeros(0)
            scores = np.zeros(cand.size, dtype=np.float64)
            for tp, (docs_i, tfs_i, dls_i) in zip(flat, decs):
                if docs_i.size == 0:
                    continue
                idx = np.minimum(np.searchsorted(docs_i, cand), docs_i.size - 1)
                hit = docs_i[idx] == cand
                if hit.any():
                    h = idx[hit]
                    scores[hit] += tp.idf * bm25.tf_score(
                        tfs_i[h], dls_i[h], tp.avgdl, tp.k1, tp.b
                    )
            return cand, scores
        # no conjunction to skip on — plain OR over the single group
        return score_exhaustive(flat, k, "OR", deleted=deleted, after=after)

    gdf = [sum(int(tp.row["df_shard"]) for tp in g) for g in groups]
    order = sorted(range(n), key=lambda i: gdf[i])
    caches_by_id: dict[int, dict] = {}
    full_by_id: dict[int, tuple] = {}

    def _member(g, cand):
        """Boolean membership of cand in the group (>= 1 list hit), via
        full decode + gather — used for seed groups, which are decoded
        anyway."""
        hit_any = np.zeros(cand.size, dtype=bool)
        for tp in g:
            docs_i = full_by_id[id(tp)][0]
            if docs_i.size == 0:
                continue
            idx = np.minimum(np.searchsorted(docs_i, cand), docs_i.size - 1)
            hit_any |= docs_i[idx] == cand
        return hit_any

    # seed: by pigeonhole any doc matching >= m groups appears in the
    # union of the n-m+1 smallest groups — full-decode those, union their
    # docs as the candidate set (for AND, m=n: just the smallest group)
    n_seed = n - m + 1
    seed_parts = []
    for gi in order[:n_seed]:
        for tp in groups[gi]:
            full_by_id[id(tp)] = tp.decode_all()
            seed_parts.append(full_by_id[id(tp)][0])
    cand = (
        seed_parts[0]
        if len(seed_parts) == 1
        else np.unique(np.concatenate(seed_parts))
    )
    cand = cand[drop_deleted(cand, deleted)]
    if m > 1 and n_seed > 1:
        counts = np.zeros(cand.size, dtype=np.int32)
        for gi in order[:n_seed]:
            counts += _member(groups[gi], cand)
    else:
        counts = np.ones(cand.size, dtype=np.int32)  # cand ⊆ the one seed

    # membership over the remaining (largest) groups, ascending size; drop
    # a candidate as soon as matched + remaining groups < m. Per-group
    # decode strategy: block probing only pays when candidates are sparse
    # relative to the group's skip table (each candidate costs at most one
    # block decode per list, plus per-block python overhead) — a group
    # with 2·cand >= its block count decodes nearly everything anyway, so
    # decode it fully once and gather (the same guard shape as
    # score_blockmax's seed test, applied per group).
    for pos, gi in enumerate(order[n_seed:]):
        if cand.size == 0:
            break
        g = groups[gi]
        g_blocks = sum(tp.n_blocks for tp in g)
        if cand.size * 2 >= g_blocks:
            for tp in g:
                full_by_id[id(tp)] = tp.decode_all()
            member = _member(g, cand)
        else:
            member = _probe_membership(
                g, [caches_by_id.setdefault(id(tp), {}) for tp in g], cand
            )
        counts += member
        remaining = len(order[n_seed:]) - pos - 1
        viable = counts + remaining >= m
        cand, counts = cand[viable], counts[viable]
    keep = counts >= m
    cand = cand[keep]
    if cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    # score at the survivors: lists already fully decoded gather directly,
    # the rest probe block-granularly (reusing the membership phase's block
    # caches) — interleaved per list IN FLAT ORDER, so every float is added
    # with the same operands in the same order whichever representation
    # served each list (the bit-identity contract with score_exhaustive).
    scores = np.zeros(cand.size, dtype=np.float64)
    for tp in flat:
        dec = full_by_id.get(id(tp))
        if dec is not None:
            docs_i, tfs_i, dls_i = dec
            if docs_i.size == 0:
                continue
            idx = np.minimum(np.searchsorted(docs_i, cand), docs_i.size - 1)
            hit = docs_i[idx] == cand
            if hit.all():  # single-leaf groups: membership is guaranteed
                scores += tp.idf * bm25.tf_score(
                    tfs_i[idx], dls_i[idx], tp.avgdl, tp.k1, tp.b
                )
            elif hit.any():
                h = idx[hit]
                scores[hit] += tp.idf * bm25.tf_score(
                    tfs_i[h], dls_i[h], tp.avgdl, tp.k1, tp.b
                )
        else:
            r = _probe_list(tp, caches_by_id.setdefault(id(tp), {}), cand)
            if r is not None:
                hit, tfs, dls = r
                scores[hit] += tp.idf * bm25.tf_score(tfs, dls, tp.avgdl, tp.k1, tp.b)
    if full_matches:
        return cand, scores  # doc-ascending by construction
    cand, scores = apply_after(cand, scores, after)
    return topk_select(cand, scores, k)


def score_blockmax(
    plists: list[TermPostings],
    k: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MaxScore with block-granular probes (disjunctive),
    rank-identical to score_exhaustive.

    Phase A: fully score the docs of the highest-upper-bound list (cheap —
    that list is usually the rare/high-idf one) to obtain a valid theta
    (k-th best full score).

    Phase B: order lists by upper bound ascending; the maximal prefix whose
    UB sum is STRICTLY below theta is non-essential — any doc appearing only
    in non-essential lists scores strictly below theta and cannot enter the
    top-k (strictness keeps doc_id tie-breaks exact). Candidates = union of
    the essential lists' postings; their full scores come from block-granular
    probes into the non-essential lists (only blocks containing a candidate
    are decoded — on a stopword+rare-term query the stopword list is ~never
    decoded). If every list is essential, pruning can't win: bail to the
    plain exhaustive kernel so the worst case stays a small constant of it.

    Control flow is per LIST, never per candidate; all decode/score/probe
    math is vectorized numpy.

    Tombstone soundness (deleted=): masks are applied to the seed docs
    BEFORE theta is seeded and to the candidate union BEFORE probing.
    Theta from live seed docs is a lower bound on the final (live-only)
    k-th score, so the essential-list decomposition stays lossless; block
    upper bounds remain valid upper bounds whether or not the docs behind
    them are deleted (a deleted top doc only makes a bound conservative).
    Pinned by the deletion fuzz in tests/test_kernels_fuzz.py.

    Cursor soundness (after=, round 6): the page contract is top-k among
    docs STRICTLY after (after_score, after_doc) in result order. The
    cursor filters FULL scores, so it composes with pruning exactly like
    tombstones: theta is seeded from the after-FILTERED seed scores (a
    lower bound on the final k-th after-filtered score), the essential
    decomposition argument is unchanged (a doc seen only in non-essential
    lists scores < theta and cannot place on this page either), and the
    final candidates are after-filtered before top-k selection. Scores are
    the same bits as score_exhaustive's (_probe_scores accumulates in its
    order), so cursors minted by either kernel remain exact here —
    previously ANY cursor dropped a pure OR back to the exhaustive kernel
    and page 2+ of a stopword-bearing OR decoded everything page 1
    skipped.
    """
    n = len(plists)
    if n == 0 or k <= 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    if n == 1:
        return score_exhaustive(plists, k, "OR", deleted=deleted, after=after)

    caches: list[dict] = [dict() for _ in range(n)]
    ubs = np.array([tp.list_ub for tp in plists])

    # Phase A — seed theta from the strongest list's own docs
    seed = int(np.argmax(ubs))
    # cheap upfront guard: probing is only profitable when the seed list is
    # small relative to the other lists' BLOCK counts (each candidate costs
    # at most one block decode per other list). A fat seed list would decode
    # everything anyway — exhaustive does that with less overhead.
    df_seed = int(plists[seed].row["df_shard"])
    other_blocks = sum(tp.n_blocks for i, tp in enumerate(plists) if i != seed)
    if df_seed > 2 * other_blocks:
        return score_exhaustive(plists, k, "OR", deleted=deleted, after=after)
    seed_docs = plists[seed].decode_all()[0]
    seed_docs = seed_docs[drop_deleted(seed_docs, deleted)]
    seed_scores = _probe_scores(plists, caches, seed_docs)
    # theta must bound the k-th score of THIS PAGE's eligible set: filter
    # the (full) seed scores through the cursor before seeding it
    sd_after, ss_after = apply_after(seed_docs, seed_scores, after)
    if sd_after.size >= k:
        kth = np.lexsort((sd_after, -ss_after))[k - 1]
        theta = float(ss_after[kth])
    else:
        theta = -np.inf

    # Phase B — essential-list decomposition under theta
    order = np.argsort(ubs, kind="stable")
    cum = np.cumsum(ubs[order])
    non_ess = cum < theta  # strict: pruned docs score < theta, ties impossible
    essential = [int(i) for i, ne in zip(order, non_ess) if not ne]
    if len(essential) == n:
        return score_exhaustive(plists, k, "OR", deleted=deleted, after=after)
    total_df = sum(int(tp.row["df_shard"]) for tp in plists)
    ess_df = sum(int(plists[i].row["df_shard"]) for i in essential) + (
        df_seed if seed not in essential else 0
    )
    if ess_df > total_df // 2:
        # candidates cover most postings — probe overhead beats the savings
        return score_exhaustive(plists, k, "OR", deleted=deleted, after=after)

    cand_parts = [seed_docs]
    for i in essential:
        if i != seed:
            cand_parts.append(plists[i].decode_all()[0])
    cand = np.unique(np.concatenate(cand_parts))
    cand = cand[drop_deleted(cand, deleted)]
    scores = _probe_scores(plists, caches, cand)
    cand, scores = apply_after(cand, scores, after)
    return topk_select(cand, scores, k)


def score_mixed_or(
    parts: list,
    k: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    prune: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Disjunction over MIXED lists: ('term', TermPostings) entries decode
    lazily with block-max bounds; ('mat', (docs, scores)) entries are
    pre-evaluated pseudo posting lists — phrase/NEAR leaves, AND subtrees
    (materialized via score_and_groups full_matches mode, block-probed),
    NOT / nested-min_match subtrees — whose own evaluation is bounded by
    their semantics and whose upper bound is EXACT (max of the
    materialized scores). This is how an OR containing non-term clauses
    keeps MaxScore pruning for its term leaves instead of dragging the
    whole tree to the exhaustive walk.

    Float contract: scores accumulate per part in the caller's list order
    over the final sorted doc array, with identical operands whether a
    term part was probed block-granularly or fully decoded — so the
    pruned and exhaustive (prune=False / cursor) routings are
    BIT-identical, and cursors minted by a pruned page stay exact.

    Rank soundness mirrors score_blockmax: theta is the k-th FULL score
    over the strongest part's own (live) docs; the maximal ascending-ub
    prefix with cumsum strictly below theta is non-essential — a doc
    appearing only there scores < theta (partials are non-negative) and
    cannot place. Candidates = union of essential parts' docs; probes
    fill in non-essential contributions exactly."""
    if not parts:
        return np.zeros(0, dtype=np.int64), np.zeros(0)

    caches = [dict() for _ in parts]
    full: dict[int, tuple] = {}  # part index -> full decode (terms only)

    def part_docs(pi):
        kind, obj = parts[pi]
        if kind != "term":
            return obj[0]
        if pi not in full:
            full[pi] = obj.decode_all()
        return full[pi][0]

    def score_at(cand):
        """Per part IN ORDER: gather from the cached full decode when one
        exists, block-probe otherwise — identical operands and add order
        either way (the bit-identity contract)."""
        scores = np.zeros(cand.size, dtype=np.float64)
        for pi, (kind, obj) in enumerate(parts):
            if kind == "term":
                if pi in full:
                    docs_i, tfs_i, dls_i = full[pi]
                    if docs_i.size == 0:
                        continue
                    idx = np.minimum(np.searchsorted(docs_i, cand), docs_i.size - 1)
                    hit = docs_i[idx] == cand
                    if hit.any():
                        h = idx[hit]
                        scores[hit] += obj.idf * bm25.tf_score(
                            tfs_i[h], dls_i[h], obj.avgdl, obj.k1, obj.b
                        )
                else:
                    r = _probe_list(obj, caches[pi], cand)
                    if r is not None:
                        hit, tfs, dls = r
                        scores[hit] += obj.idf * bm25.tf_score(
                            tfs, dls, obj.avgdl, obj.k1, obj.b
                        )
            else:
                d, s = obj
                if d.size:
                    idx = np.minimum(np.searchsorted(d, cand), d.size - 1)
                    hit = d[idx] == cand
                    if hit.any():
                        scores[hit] += s[idx[hit]]
        return scores

    ubs = np.array(
        [
            p[1].list_ub if p[0] == "term"
            else (float(p[1][1].max()) if p[1][1].size else 0.0)
            for p in parts
        ]
    )
    term_blocks = sum(p[1].n_blocks for p in parts if p[0] == "term")
    has_term = any(p[0] == "term" for p in parts)
    pdfs = [
        int(p[1].row["df_shard"]) if p[0] == "term" else int(p[1][0].size)
        for p in parts
    ]

    if prune and has_term and len(parts) > 1:
        seed = int(np.argmax(ubs))
        seed_docs = part_docs(seed)
        if pdfs[seed] <= 2 * max(term_blocks, 1):
            seed_docs = seed_docs[drop_deleted(seed_docs, deleted)]
            seed_scores = score_at(seed_docs)
            # cursor composes like tombstones (same argument as
            # score_blockmax, round 6): theta seeds from the
            # after-FILTERED full seed scores, candidates after-filter
            # before selection — page 2+ keeps the pruned routing
            sd_after, ss_after = apply_after(seed_docs, seed_scores, after)
            if sd_after.size >= k:
                kth = np.lexsort((sd_after, -ss_after))[k - 1]
                theta = float(ss_after[kth])
            else:
                theta = -np.inf
            order = np.argsort(ubs, kind="stable")
            cum = np.cumsum(ubs[order])
            essential = [int(i) for i, ne in zip(order, cum < theta) if not ne]
            ess_df = sum(pdfs[i] for i in essential) + (
                pdfs[seed] if seed not in essential else 0
            )
            if len(essential) < len(parts) and ess_df <= sum(pdfs) // 2:
                cand_parts = [seed_docs]
                for i in essential:
                    if i != seed:
                        cand_parts.append(part_docs(i))
                cand = np.unique(np.concatenate(cand_parts))
                cand = cand[drop_deleted(cand, deleted)]
                cand_s = score_at(cand)
                cand, cand_s = apply_after(cand, cand_s, after)
                return topk_select(cand, cand_s, k)
    # exhaustive (and cursor) path — same score_at float order
    all_docs = [part_docs(pi) for pi in range(len(parts))]
    uniq = np.unique(np.concatenate(all_docs)) if all_docs else np.zeros(0, np.int64)
    uniq = uniq[drop_deleted(uniq, deleted)]
    if uniq.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    scores = score_at(uniq)
    uniq, scores = apply_after(uniq, scores, after)
    return topk_select(uniq, scores, k)


def count_matches_shard(
    mode: str,
    plists: list[TermPostings],
    deleted: np.ndarray | None = None,
    tree: dict | None = None,
    slop: int = 0,
    ordered: bool = True,
    min_match: int = 0,
) -> int:
    """Match COUNT for one shard — full match semantics, no scoring, no
    top-k (the track_total_hits analog; shared by the Spark count path and
    the serving path). Block-max pruning is inapplicable (a count touches
    every match), so every mode takes its exhaustive match-list path."""
    if mode == "BOOL":
        from invoicenet_spark.query import booltree

        by_tid = {int(tp.row["term_id"]): tp for tp in plists}
        docs, _ = booltree.evaluate_shard(tree, by_tid)
        return int(drop_deleted(docs, deleted).sum()) if docs.size else 0
    if not plists:
        return 0
    decoded = [tp.decode_all() for tp in plists]
    if mode == "PHRASE":
        return int(phrase_matches(plists, decoded, deleted=deleted).size)
    if mode == "NEAR":
        return int(
            near_matches(plists, decoded, slop, deleted=deleted, ordered=ordered).size
        )
    if mode == "AND":
        docs = gallop_intersect([d[0] for d in decoded])
        return int(drop_deleted(docs, deleted).sum()) if docs.size else 0
    # OR (+ min_match)
    docs_cat = np.concatenate([d[0] for d in decoded])
    uniq, inv = np.unique(docs_cat, return_inverse=True)
    if min_match > 1:
        cnt = np.bincount(inv, minlength=uniq.size)
        uniq = uniq[cnt >= min_match]
    return int(drop_deleted(uniq, deleted).sum()) if uniq.size else 0


_ALL_TERMS_MODES = ("AND", "PHRASE", "NEAR")


def run_shard(
    mode: str,
    plists: list,
    k: int,
    *,
    kernel: str = "auto",
    deleted: np.ndarray | None = None,
    neg=(),
    after: tuple[float, int] | None = None,
    min_match: int = 0,
    slop: int = 0,
    ordered: bool = True,
    tree: dict | None = None,
    count: bool = False,
):
    """The ONE per-(query, shard) router: the Spark applyInPandas body and
    the serving loop both score every query through it.

    plists: one TermPostings per query slot (slot order for PHRASE/NEAR),
    None where the slot's term has no postings in this shard — an
    AND/PHRASE/NEAR query then matches nothing here, OR/BOOL skip it. neg:
    posting rows of must_not terms; their docs join the `deleted` mask (the
    tombstone mechanism, fuzz-pinned sound under block-max pruning). tree:
    the resolved BOOL tree. Returns the shard's top-k (docs, scores), or
    its match count when count=True (track_total_hits: exhaustive, no
    scoring, cursor ignored).

    Routes: BOOL → booltree.evaluate_shard_topk; PHRASE/NEAR → proximity
    kernels; kernel='exhaustive' → score_exhaustive; AND and min_match>1 OR
    → score_and_groups (exact structural pruning, bit-identical floats to
    exhaustive); plain OR → score_blockmax (MaxScore with block-granular
    probes, rank-identical to exhaustive, cursors included)."""
    if len(neg):
        excl = np.unique(
            np.concatenate([decode_posting_list(r)[0] for r in neg])
        ).astype(np.int64)
        deleted = excl if deleted is None else np.union1d(deleted, excl)
    present = [tp for tp in plists if tp is not None]
    if not present or (mode in _ALL_TERMS_MODES and len(present) < len(plists)):
        return 0 if count else (np.zeros(0, dtype=np.int64), np.zeros(0))
    if mode in ("AND", "OR"):
        # deterministic float accumulation order on every path
        present.sort(key=lambda tp: int(tp.row["term_id"]))
    if count:
        return count_matches_shard(
            mode, present, deleted=deleted, tree=tree, slop=slop,
            ordered=ordered, min_match=min_match,
        )
    if mode == "BOOL":
        from invoicenet_spark.query import booltree

        by_tid = {int(tp.row["term_id"]): tp for tp in present}
        return booltree.evaluate_shard_topk(
            tree, by_tid, k, deleted=deleted, after=after, kernel=kernel
        )
    if mode == "PHRASE":
        return score_phrase(present, k, deleted=deleted, after=after)
    if mode == "NEAR":
        return score_near(
            present, k, slop, deleted=deleted, after=after, ordered=ordered
        )
    if kernel == "exhaustive":
        return score_exhaustive(
            present, k, mode, deleted=deleted, min_match=min_match, after=after
        )
    if mode == "AND" or min_match > 1:
        return score_and_groups(
            [[tp] for tp in present], k, deleted=deleted, after=after,
            min_groups=min_match if mode == "OR" else None,
        )
    return score_blockmax(present, k, deleted=deleted, after=after)


# score_wand (document-at-a-time block-max WAND with a per-pivot Python
# cursor loop) was REMOVED in round 3: it was sound and fuzz-pinned after
# the round-2 fixes, but per-shard it measured 22 ms vs score_blockmax's
# 3.4 ms on the skewed fixture and never beat either kernel on any fixture
# (BENCH/BASELINE.md §3) — it only avoided an 11 s single-list pathology
# via a guard. score_blockmax (vectorized MaxScore with block-granular
# probes) is the one pruned disjunctive kernel; callers that pass
# kernel="wand" get it (alias kept for CLI/back-compat).
