"""Seeded workload inputs: one corpus and every query draw from one seed.

Everything here is a pure function of the workload seed and runs in one
process, single-threaded, before any timing starts. The corpus comes from
the repository's page fixture (`fixtures.gen_pages_pandas`) and the queries
from its reference query set (`fixtures.gen_queries`). Both derive their
vocabulary from the seed they are given, so the benchmark always passes the
same seed to both; `check_inputs` fails a run whose seeds differ, because
queries drawn from another seed's vocabulary mostly miss the dictionary and
make serving look several times faster than it is.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from invoicenet_spark.fixtures import gen_pages_pandas, gen_queries
from invoicenet_spark.oracle.bm25_numpy import tokenize

# Share of query rows rewritten as BOOL trees ("a OR b" / "a AND b").
BOOL_SHARE = 0.2
# A run whose query terms hit the corpus vocabulary less often than this is
# not measuring the workload it claims to.
MIN_HIT_SHARE = 0.9
# Delta pages start this far past the base corpus, so their doc_seq (and so
# their text) never coincides with a base page.
_DELTA_SEQ_OFFSET = 10_000_000


@dataclass
class Inputs:
    corpus_seed: int
    query_seed: int
    pages: pd.DataFrame  # the fixture `pages` schema
    queries: pd.DataFrame  # (query_id, terms, mode, k), the single-query stream
    batches: list  # fixed closed-loop batches, each a queries frame
    delta: pd.DataFrame  # refresh snapshot: half new pages, half re-crawls
    check_ids: list  # query_ids of `queries` whose answers are oracle-checked


def _as_bool_rows(q: pd.DataFrame, rng: np.random.Generator) -> pd.DataFrame:
    """Rewrite a fixed share of AND/OR rows as BOOL query strings with the
    same meaning, so the tree evaluator is part of the mix."""
    q = q.copy()
    q["orig_mode"] = q["mode"]
    pick = rng.random(len(q)) < BOOL_SHARE
    q["terms"] = [
        [f" {m} ".join(ts)] if p else ts for ts, m, p in zip(q["terms"], q["mode"], pick)
    ]
    q.loc[pick, "mode"] = "BOOL"
    return q


def make_inputs(
    seed: int,
    n_pages: int,
    n_queries: int,
    n_batches: int,
    batch_size: int = 100,
    n_delta: int = 0,
    n_check: int = 40,
    query_seed: int | None = None,
) -> Inputs:
    """All inputs of one run. `query_seed` exists only so tests can build a
    deliberately mismatched input set; runs always leave it None."""
    query_seed = seed if query_seed is None else query_seed
    pages = gen_pages_pandas(n_pages, seed=seed)
    rng = np.random.default_rng([query_seed, 31])
    qs = gen_queries(n_queries + n_batches * batch_size, seed=query_seed)
    qs = _as_bool_rows(qs, rng)
    queries = qs.iloc[:n_queries].reset_index(drop=True)
    batches = [
        qs.iloc[n_queries + i * batch_size : n_queries + (i + 1) * batch_size]
        .reset_index(drop=True)
        for i in range(n_batches)
    ]
    delta = pages.iloc[:0]
    if n_delta:
        delta = gen_pages_pandas(n_delta, seed=seed, start=_DELTA_SEQ_OFFSET)
        # every other delta page re-crawls a base url with new content
        n_re = n_delta // 2
        base_rows = np.sort(rng.choice(n_pages, size=n_re, replace=False))
        delta.loc[: n_re - 1, "url"] = pages["url"].to_numpy()[base_rows]
    # drawn from the head of the stream, which every run serves
    head = queries["query_id"].to_numpy()[:100]
    check_ids = sorted(int(i) for i in rng.choice(head, size=min(n_check, len(head)),
                                                  replace=False))
    return Inputs(seed, query_seed, pages, queries, batches, delta, check_ids)


def corpus_vocab(pages: pd.DataFrame, langs=("en",)) -> set[str]:
    vocab: set[str] = set()
    for text in pages.loc[pages["lang"].isin(langs), "text"]:
        vocab.update(tokenize(text))
    return vocab


def query_terms(queries: pd.DataFrame) -> list[str]:
    """Leaf terms of every row (BOOL strings split back into their terms)."""
    out = []
    for ts, mode in zip(queries["terms"], queries["mode"]):
        if mode == "BOOL":
            ts = [t for t in ts[0].split() if t not in ("AND", "OR")]
        out.extend(ts)
    return out


def hit_share(inputs: Inputs, vocab: set[str]) -> float:
    """Share of query terms (single stream and batches) that occur in the
    indexed corpus."""
    terms = query_terms(pd.concat([inputs.queries, *inputs.batches]))
    return sum(t in vocab for t in terms) / max(len(terms), 1)


def check_inputs(inputs: Inputs, vocab: set[str]) -> list[str]:
    """Problems that make the run measure the wrong thing; empty when fine."""
    problems = []
    if inputs.corpus_seed != inputs.query_seed:
        problems.append(
            f"query seed {inputs.query_seed} differs from corpus seed {inputs.corpus_seed}"
        )
    share = hit_share(inputs, vocab)
    if share < MIN_HIT_SHARE:
        problems.append(f"query terms hit the corpus vocabulary {share:.1%} < {MIN_HIT_SHARE:.0%}")
    return problems
