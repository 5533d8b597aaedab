"""Fuzzy term expansion — the FuzzyQuery analog: a query term matches every
dictionary term within `max_edits` Levenshtein edits, rewritten to an OR
over the expansion (same policy as PREFIX: each expanded term scores with
its own idf; qparse's clause cap applies).

Pure numpy (no Spark imports — shared by both query paths). The DP is
vectorized ACROSS candidate terms: a length prefilter (|len - m| <=
max_edits) first, then the classic (m x L) edit-distance recurrence where
every cell update is one elementwise op over the whole candidate array —
m*L ~ a few hundred vectorized ops regardless of vocabulary size. numpy
'U' arrays are UCS-4 with zero padding, so the candidate matrix is a plain
view, no per-string Python. Lucene uses Levenshtein automata for the same
job; at the dictionary sizes a serving node holds hot (<= 5M terms) the
vectorized DP is a few hundred ms worst-case and has no automaton-
construction complexity. The Spark batch path's big-vocab fallback pushes
F.levenshtein into a JVM dictionary scan instead (exec.Index._scan_terms).
"""

from __future__ import annotations

import numpy as np


def levenshtein_within(
    vocab: np.ndarray, term: str, max_edits: int
) -> list[str]:
    """Dictionary terms within `max_edits` edits of `term`, lexicographic.

    vocab: numpy array of dtype '<U*' (unicode). Exact matches (distance 0)
    are included.
    """
    if vocab.size == 0 or max_edits < 0:
        return []
    vocab = np.asarray(vocab, dtype=str)
    m = len(term)
    lens = np.char.str_len(vocab)
    keep = np.abs(lens - m) <= max_edits
    cand = np.ascontiguousarray(vocab[keep])
    if cand.size == 0:
        return []
    clens = lens[keep].astype(np.int64)
    L = int(clens.max()) if cand.size else 0
    if L == 0:
        return sorted(cand.tolist()) if m <= max_edits else []
    # (n_cand, itemsize) uint32 view of the UCS-4 buffer, zero-padded
    width = cand.dtype.itemsize // 4
    mat = cand.view(np.uint32).reshape(cand.size, width)[:, :L]
    qcodes = np.array([ord(c) for c in term], dtype=np.uint32)

    n = cand.size
    prev = np.broadcast_to(np.arange(L + 1, dtype=np.int32), (n, L + 1)).copy()
    for i in range(1, m + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        qc = qcodes[i - 1]
        sub = prev[:, :-1] + (mat != qc)  # substitution row, fully vectorized
        dele = prev[:, 1:] + 1
        np.minimum(sub, dele, out=sub)
        # insertion column has a left-to-right dependency: one vectorized
        # minimum per column, L per row — m*L total elementwise passes
        for j in range(1, L + 1):
            cur[:, j] = np.minimum(sub[:, j - 1], cur[:, j - 1] + 1)
        prev = cur
    dist = prev[np.arange(n), clens]
    hit = dist <= max_edits
    return sorted(cand[hit].tolist())
