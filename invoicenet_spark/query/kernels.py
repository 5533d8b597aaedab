"""Pure numpy query kernels: gallop intersection, exhaustive scoring,
phrase/NEAR match lists, the conjunctive block-probe kernel and block-max
MaxScore. No Spark imports — unit-testable standalone. Every query is a
tree (plan.normalize compiles flat rows into trees), so the one router
over these kernels is booltree.evaluate_shard_topk, which both query paths
reach through the one per-shard batch loop, plan.run_shard_batch (the
Spark path once per shard group, the serving path once per probed shard).

Reference analog (SURVEY.md §2.6 J4, §2.7 A1, §2.8 K1): the query-term ∩
candidate intersection is the reference's memory-mask (model.py:124-125);
scoring is the masked global softmax (sum of per-candidate partials,
model.py:127-131); top-k generalizes the argmax decode (acp.py:117).
Pruning ≈ masking non-candidates before the softmax.

Block-max pruning follows Ding & Suel (SIGIR 2011) in its MaxScore form:
a theta seeded from the strongest list, an essential/non-essential split
on list upper bounds, and block-granular probes guided by the per-block
(max_tf, min_dl) bounds (codec.py). Control flow is per LIST, never per
candidate; all decode/score/probe math is vectorized numpy.
"""

from __future__ import annotations

import threading
from functools import cached_property

import numpy as np

from invoicenet_spark.index import bm25
from invoicenet_spark.index.codec import (
    POSITION_COLUMNS,
    decode_blocks_batch,
    decode_positions,
    decode_posting_list,
)


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


def _frozen(*arrays: np.ndarray) -> tuple[np.ndarray, ...]:
    """The arrays, marked read-only: decoded postings are shared by every
    query and leaf that reads them."""
    for a in arrays:
        a.flags.writeable = False
    return arrays


class PostingList:
    """One (shard, term_id) posting row, decoded at most once and shared by
    every query and leaf that reads it: the row, its skip table
    (block_last), the per-block bound inputs, a memoized full decode, a
    memoized position decode and one cache of block-probed blocks. Every
    array it hands out is read-only.

    plan.run_shard_batch builds one per row per shard for a batch; the
    serving path keeps them across calls inside its cached row groups
    (local._RowGroup), each charged `decoded_nbytes`: an upper bound on
    the numpy bytes its decodes can hold (24 B per posting for the int64
    (docs, tfs, dls), 16 B per block for the float64 bound inputs, and for
    a positional row 8 B per position-stream byte and per offset). The
    block cache is dropped once the list is fully decoded, so it never
    holds both. Decodes run under the list's lock, so concurrent readers
    decode each block once and keep one copy."""

    def __init__(self, row: dict):
        self.row = row
        (self.block_last,) = _frozen(np.asarray(row["block_last"], dtype=np.int64).view())
        self.n_blocks = self.block_last.size
        self.df = int(row["df_shard"])
        self.full = None  # (docs, tfs, dls) once fully decoded
        self._positions = None
        self._blocks: dict | None = {}
        self._lock = threading.Lock()
        pos = row.get(POSITION_COLUMNS[0])
        self.decoded_nbytes = (
            24 * self.df + 16 * self.n_blocks
            + (8 * (len(pos) + self.df + 1) if pos is not None else 0)
        )

    @cached_property
    def bound_inputs(self) -> tuple[np.ndarray, np.ndarray]:
        """(block_max_tf, block_min_dl) as float64 — bm25.block_upper_bound's
        inputs."""
        return _frozen(
            np.asarray(self.row["block_max_tf"], dtype=np.float64),
            np.asarray(self.row["block_min_dl"], dtype=np.float64),
        )

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        with self._lock:
            if self.full is None:
                self.full = _frozen(*decode_posting_list(self.row))
                self._blocks = None  # the full decode serves every block now
            return self.full

    def decode_positions(self, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(pos_flat, offsets) of the position stream; tfs is the list's
        full tf array."""
        with self._lock:
            if self._positions is None:
                self._positions = _frozen(*decode_positions(self.row, tfs))
            return self._positions

    def blocks(self, needed: np.ndarray) -> list:
        """(docs, tfs, dls) of each needed block (sorted unique block
        indices), in order. Blocks not yet cached are decoded in ONE batched
        varbyte call — per-block python decode costs ~0.1 ms of loop overhead
        each, which ties the pruned path with exhaustive instead of beating
        it."""
        needed = needed.tolist()
        with self._lock:
            cache = self._blocks
            if cache is None:
                cache = {}  # fully decoded meanwhile: these blocks are not kept
            missing = [j for j in needed if j not in cache]
            if missing:
                bd, bt, bl, offs = decode_blocks_batch(
                    self.row, np.array(missing, dtype=np.int64)
                )
                _frozen(bd, bt, bl)
                for bi, j in enumerate(missing):
                    sl = slice(offs[bi], offs[bi + 1])
                    cache[j] = (bd[sl], bt[sl], bl[sl])
            return [cache[j] for j in needed]


class TermPostings:
    """One leaf's scoring view over a shared PostingList: the leaf's idf
    (boost folded in), avgdl (its field's, on a fielded leaf), k1, b and
    the block bounds those give. Decodes go to the shared list, so every
    view over one row reads the same arrays, and the serving cache's bound
    counts their decoded numpy bytes once, on the list
    (PostingList.decoded_nbytes), not per view."""

    def __init__(self, postings: PostingList, idf: float, avgdl: float, k1: float, b: float):
        self.postings = postings
        self.idf = float(idf)
        self.avgdl = avgdl
        self.k1, self.b = k1, b

    @property
    def row(self) -> dict:
        return self.postings.row

    @cached_property
    def block_ub(self) -> np.ndarray:
        """Per-block score upper bounds — computed on first use: only the
        pruned disjunctive kernels read them."""
        max_tf, min_dl = self.postings.bound_inputs
        return bm25.block_upper_bound(self.idf, max_tf, min_dl, self.avgdl, self.k1, self.b)

    @cached_property
    def list_ub(self) -> float:
        """List-level upper bound = max over block bounds."""
        return float(self.block_ub.max())

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return self.postings.decode_all()

    def decode_positions(self, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return self.postings.decode_positions(tfs)


def score_exhaustive(
    plists: list,
    k: int,
    mode: str = "OR",
    deleted: np.ndarray | None = None,
    min_match: int = 0,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized exhaustive scoring of one shard.

    plists: TermPostings; in OR mode also (docs, scores) materialized
    pseudo lists (see score_blockmax), whose partials are added as they
    are.

    after: search_after pagination cursor (see apply_after).

    min_match (OR mode): keep only docs matching >= min_match DISTINCT query
    terms (Lucene minimumNumberShouldMatch). Correct per shard because a doc
    lives in exactly one shard, so its full term-match count is visible to
    that shard's kernel. 0/1 = plain OR; AND is min_match == n by other
    means (intersection first).

    Posting rows are self-contained (per-posting doc_len stream), so no
    forward-index side input is needed. Deterministic accumulation:
    per-term partials added in caller-supplied list order (the tree's
    leaf order).

    deleted: sorted tombstone doc_ids for THIS shard (index/deletes.py) —
    masked before top-k selection so tombstoned docs never displace live
    ones from a shard's k slots.
    """
    if not plists:
        return np.zeros(0, dtype=np.int64), np.zeros(0)

    if mode == "AND":
        # intersect-then-score: gallop the doc sets first, then gather
        # (tf, dl) for survivors only — skips scoring the union
        decoded = [tp.decode_all() for tp in plists]
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
    for p in plists:
        if isinstance(p, TermPostings):
            docs, tfs, dls = p.decode_all()
            s = p.idf * bm25.tf_score(tfs, dls, p.avgdl, p.k1, p.b)
        else:
            docs, s = p
        all_docs.append(docs)
        all_scores.append(s)
    docs_cat = np.concatenate(all_docs)
    scores_cat = np.concatenate(all_scores)
    uniq, inv = np.unique(docs_cat, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    # add.at adds per doc in part-major order: the same float order as the
    # pruned kernels' per-part probes (_score_at), so their bits agree
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


def phrase_matches(plists_by_qpos: list[TermPostings], decoded) -> np.ndarray:
    """Docs of this shard containing the exact phrase — one posting view
    per phrase slot, in phrase order (a repeated term appears once per
    slot); a doc matches iff some position p has slot i's term at p+i for
    every i. The FULL match list (no top-k), so boolean-tree phrase leaves
    can compose it."""
    cand = gallop_intersect([d[0] for d in decoded])
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
    """BM25 over a phrase leaf's distinct terms (a slot's term may repeat),
    restricted to the proximity-matching docs; accumulated in deterministic
    term_id order. Standard semantics: proximity is a FILTER, scoring stays
    plain BM25 (booltree.evaluate_shard's phrase/NEAR leaves).
    avgdl_override: fielded phrase leaves normalize by their FIELD's
    average length."""
    scores = np.zeros(match_arr.size, dtype=np.float64)
    by_tid = {int(tp.row["term_id"]): (tp, dec) for tp, dec in zip(plists, decoded)}
    for tid in sorted(by_tid):
        tp, (docs_i, tfs_i, dls_i) = by_tid[tid]
        j = np.searchsorted(docs_i, match_arr)
        avgdl = avgdl_override if avgdl_override is not None else tp.avgdl
        scores += tp.idf * bm25.tf_score(tfs_i[j], dls_i[j], avgdl, tp.k1, tp.b)
    return scores


def near_matches(
    plists_by_qpos: list[TermPostings],
    decoded,
    slop: int,
    ordered: bool = True,
) -> np.ndarray:
    """FULL NEAR match list for one shard (no top-k) — composable by
    boolean-tree proximity leaves.

    ordered=True: a doc matches iff its tokens contain the slots' terms IN
    ORDER at strictly increasing positions p1 < … < pn with span
    pn - p1 <= (n-1) + slop; slop=0 matches exactly what phrase_matches
    does (pinned by test). ordered=False (Lucene SpanNear ordered=false):
    any order, some choice p_i from each slot's positions with
    max(p) - min(p) <= (n-1) + slop; repeated terms share occurrences
    (degenerate but documented).

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


def _locate(docs: np.ndarray, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(idx, hit) for a sorted candidate array in a sorted doc array: hit
    marks the candidates present in `docs`, idx[hit] their positions."""
    if docs.size == 0:
        return np.zeros(cand.size, dtype=np.intp), np.zeros(cand.size, dtype=bool)
    idx = np.minimum(np.searchsorted(docs, cand), docs.size - 1)
    return idx, docs[idx] == cand


def _probe_list(tp: TermPostings, cand: np.ndarray):
    """(hit_mask_over_cand, tfs_at_hits, dls_at_hits) for one posting list
    at a sorted candidate array, None when no candidate is in the list.
    Gathers from the shared full decode when there is one; otherwise
    decodes only the blocks that can contain a candidate (PostingList.
    blocks keeps them). Either way the same postings come back."""
    full = tp.postings.full
    if full is None:
        jb = np.searchsorted(tp.postings.block_last, cand, side="left")
        ok = jb < tp.postings.n_blocks
        if not ok.any():
            return None
        blocks = tp.postings.blocks(np.unique(jb[ok]))
        full = [np.concatenate([b[i] for b in blocks]) for i in range(3)]
    idx, hit = _locate(full[0], cand)
    if not hit.any():
        return None
    h = idx[hit]
    return hit, full[1][h], full[2][h]


def _probe_membership(plists: list[TermPostings], cand: np.ndarray) -> np.ndarray:
    """Boolean mask over the sorted candidate array: does the doc appear in
    AT LEAST ONE of these posting lists? Probed like _probe_list — the
    membership half of the conjunctive probe."""
    hit_any = np.zeros(cand.size, dtype=bool)
    for tp in plists:
        r = _probe_list(tp, cand)
        if r is not None:
            hit_any |= r[0]
    return hit_any


def _score_at(parts: list, cand: np.ndarray) -> np.ndarray:
    """FULL scores at a sorted candidate doc array. Per part IN ORDER:
    gather from a materialized (docs, scores) list, or probe a term part
    (_probe_list: its full decode, else only the blocks that can hold a
    candidate). Every part adds the same operands in the same order however
    it was served — score_exhaustive's float order — so every routing
    returns the same bits and cursors minted by any of them stay exact."""
    scores = np.zeros(cand.size, dtype=np.float64)
    for p in parts:
        if isinstance(p, TermPostings):
            r = _probe_list(p, cand)
            if r is None:
                continue
            hit, tfs, dls = r
            scores[hit] += p.idf * bm25.tf_score(tfs, dls, p.avgdl, p.k1, p.b)
            continue
        idx, hit = _locate(p[0], cand)
        if hit.any():
            scores[hit] += p[1][idx[hit]]
    return scores


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
    (group-major) list order over the final sorted candidate array
    (_score_at) — IDENTICAL operand order to score_exhaustive(mode='AND')
    for single-leaf groups (fuzz-pinned bit-equal).

    Decode-strategy guard, per group: block probing decodes ≈ one block
    (block_size postings) per candidate, so it only pays when
    2·cand < the group's block count (expected decode under ~half the
    list); otherwise the group is decoded fully once and gathered — same
    floats either way.

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
    score_blockmax while keeping the block-probed decode skipping (the
    walk would decode its stopword clauses fully)."""
    groups = [g for g in groups if g]  # a leafless group can never match
    n = len(groups)
    m = n if min_groups is None else int(min_groups)
    if n == 0 or m > n:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    m = max(m, 1)
    flat = [tp for g in groups for tp in g]
    if n == 1 and not full_matches:
        # no conjunction to skip on — plain OR over the single group
        return score_exhaustive(flat, k, "OR", deleted=deleted, after=after)

    gdf = [sum(tp.postings.df for tp in g) for g in groups]
    order = sorted(range(n), key=lambda i: gdf[i])

    def _member(g, cand):
        """Boolean membership of cand in the group (>= 1 list hit), via
        full decode + gather — used for groups decoded anyway."""
        hit_any = np.zeros(cand.size, dtype=bool)
        for tp in g:
            hit_any |= _locate(tp.decode_all()[0], cand)[1]
        return hit_any

    # seed: by pigeonhole any doc matching >= m groups appears in the
    # union of the n-m+1 smallest groups — full-decode those, union their
    # docs as the candidate set (for AND, m=n: just the smallest group)
    n_seed = n - m + 1
    seed_parts = []
    for gi in order[:n_seed]:
        for tp in groups[gi]:
            seed_parts.append(tp.decode_all()[0])
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
        g_blocks = sum(tp.postings.n_blocks for tp in g)
        if cand.size * 2 >= g_blocks:
            member = _member(g, cand)
        else:
            member = _probe_membership(g, cand)
        counts += member
        remaining = len(order[n_seed:]) - pos - 1
        viable = counts + remaining >= m
        cand, counts = cand[viable], counts[viable]
    cand = cand[counts >= m]
    if cand.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    # score at the survivors, reusing the membership phase's decodes (the
    # lists share them)
    scores = _score_at(flat, cand)
    if full_matches:
        return cand, scores  # doc-ascending by construction
    cand, scores = apply_after(cand, scores, after)
    return topk_select(cand, scores, k)


def score_blockmax(
    parts: list,
    k: int,
    deleted: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized MaxScore with block-granular probes (disjunctive),
    rank- and bit-identical to score_exhaustive over the same parts.

    A part is a TermPostings (decoded lazily; its upper bound comes from
    the per-block bounds) or a (docs, scores) materialized pseudo posting
    list: sorted docs, exact partial scores, upper bound = max score. BOOL
    trees materialize their non-term clauses that way — phrase/NEAR
    leaves, AND subtrees (score_and_groups full_matches mode, block-probed),
    NOT / nested-min_match subtrees — so an OR mixing them with term
    leaves keeps MaxScore pruning for the terms. Every partial must be
    >= 0 (boosts are validated non-negative at parse time).

    Phase A: fully score the docs of the highest-upper-bound part (cheap —
    that part is usually the rare/high-idf one) to obtain a valid theta
    (k-th best full score).

    Phase B: order parts by upper bound ascending; the maximal prefix whose
    UB sum is STRICTLY below theta is non-essential — any doc appearing only
    in non-essential parts scores strictly below theta and cannot enter the
    top-k (strictness keeps doc_id tie-breaks exact). Candidates = union of
    the essential parts' docs; their full scores come from block-granular
    probes into the non-essential lists (only blocks containing a candidate
    are decoded — on a stopword+rare-term query the stopword list is ~never
    decoded).

    Guards, each falling back to score_exhaustive (pruning can't win, so
    the worst case stays a small constant of it): a single part; a seed
    whose df exceeds twice the other TermPostings parts' block count (each
    candidate costs at most one block decode per other list, so a fat seed
    decodes everything anyway); every part essential; essential df over
    half the total df.

    Tombstone soundness (deleted=): masks are applied to the seed docs
    BEFORE theta is seeded and to the candidate union BEFORE probing.
    Theta from live seed docs is a lower bound on the final (live-only)
    k-th score, so the essential decomposition stays lossless; upper
    bounds remain valid whether or not the docs behind them are deleted.

    Cursor soundness (after=): the page contract is top-k among docs
    STRICTLY after (after_score, after_doc) in result order. The cursor
    filters FULL scores, so it composes with pruning exactly like
    tombstones: theta is seeded from the after-FILTERED seed scores, and
    the final candidates are after-filtered before top-k selection.
    Scores are score_exhaustive's bits (_score_at), so cursors minted by
    any routing stay exact here. Both pinned by tests/test_kernels_fuzz.py.
    """
    n = len(parts)
    if n == 0 or k <= 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    if n == 1:
        return score_exhaustive(parts, k, "OR", deleted=deleted, after=after)
    terms = [isinstance(p, TermPostings) for p in parts]
    ubs = np.array([
        p.list_ub if t else (float(p[1].max()) if p[1].size else 0.0)
        for p, t in zip(parts, terms)
    ])
    dfs = [p.postings.df if t else int(p[0].size) for p, t in zip(parts, terms)]

    # Phase A — seed theta from the strongest part's own docs
    seed = int(np.argmax(ubs))
    other_blocks = sum(
        p.postings.n_blocks for i, (p, t) in enumerate(zip(parts, terms)) if t and i != seed
    )
    if dfs[seed] > 2 * other_blocks:
        return score_exhaustive(parts, k, "OR", deleted=deleted, after=after)

    def docs_of(i: int) -> np.ndarray:
        return parts[i].decode_all()[0] if terms[i] else parts[i][0]

    seed_docs = docs_of(seed)
    seed_docs = seed_docs[drop_deleted(seed_docs, deleted)]
    seed_scores = _score_at(parts, seed_docs)
    # theta must bound the k-th score of THIS PAGE's eligible set: filter
    # the (full) seed scores through the cursor before seeding it
    sd_after, ss_after = apply_after(seed_docs, seed_scores, after)
    if sd_after.size >= k:
        kth = np.lexsort((sd_after, -ss_after))[k - 1]
        theta = float(ss_after[kth])
    else:
        theta = -np.inf

    # Phase B — essential-part decomposition under theta
    order = np.argsort(ubs, kind="stable")
    non_ess = np.cumsum(ubs[order]) < theta  # strict: pruned docs score < theta
    essential = [int(i) for i, ne in zip(order, non_ess) if not ne]
    if len(essential) == n:
        return score_exhaustive(parts, k, "OR", deleted=deleted, after=after)
    ess_df = sum(dfs[i] for i in essential) + (dfs[seed] if seed not in essential else 0)
    if ess_df > sum(dfs) // 2:
        # candidates cover most postings — probe overhead beats the savings
        return score_exhaustive(parts, k, "OR", deleted=deleted, after=after)

    cand = np.unique(
        np.concatenate([seed_docs] + [docs_of(i) for i in essential if i != seed])
    )
    cand = cand[drop_deleted(cand, deleted)]
    scores = _score_at(parts, cand)
    cand, scores = apply_after(cand, scores, after)
    return topk_select(cand, scores, k)


# score_wand (document-at-a-time block-max WAND with a per-pivot Python
# cursor loop) was removed in round 3: per shard it measured 22 ms vs
# score_blockmax's 3.4 ms on the skewed fixture and never beat either
# kernel on any fixture (BENCH/BASELINE.md §3). score_blockmax is the one
# pruned disjunctive kernel.
