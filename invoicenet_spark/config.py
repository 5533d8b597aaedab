"""Engine configuration.

The reference keeps its tunables as a dynamic FIELDS registry plus
hard-coded hyper-parameters (invoicenet/__init__.py:21-37,
invoicenet/acp/data.py:44-63). The engine analog is a plain frozen config
object: analyzer choices, BM25 constants, and index layout knobs. No schema
changes flow from config — table schemas are fixed StructTypes.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # BM25 constants (BASELINE.json north_star: k1=1.2, b=0.75).
    k1: float = 1.2
    b: float = 0.75

    # Index layout.
    # Posting lists are sharded by docID range: shard = doc_id // shard_size.
    # This bounds the size of any (term, shard) group, so Zipfian head terms
    # (stopwords) can never produce a straggler task — the skew handling the
    # north_rule demands, by construction rather than by rescue.
    shard_size: int = 1 << 17  # 131072 docs per shard
    # Inside a (term, shard) posting list, docIDs/tfs are cut into blocks of
    # `block_size` entries; each block stores its exact max BM25 partial
    # score (block-max, Ding & Suel SIGIR'11) and a skip pointer (last docID).
    block_size: int = 128

    # Analyzer: lowercase + split on non-alphanumeric + drop empties
    # (semantics pinned by the reference's token handling:
    # invoicenet/common/util.py:105 drops empties;
    # invoicenet/gui/viewer.py:211 matches case-insensitively).
    token_pattern: str = "[^a-z0-9]+"
    # Optional token-filter chain after tokenization (Lucene analyzer
    # analog; functions/analyzer.py analyze_col). Both are INDEX-LAYOUT
    # choices: they are persisted in the manifest and stats.json, and both
    # query paths re-apply the identical chain to query terms — a stopword
    # query term drops out (StopFilter-on-query semantics), surviving
    # terms stem. PREFIX/FUZZY terms are never analyzed (Lucene multi-term
    # query convention). Positions renumber after stop removal (no gaps).
    stopwords: tuple[str, ...] = ()
    # "s_stem" = Harman S-stemmer (EnglishMinimalStemFilter family):
    # plural-only suffix rules, first match wins, len<=3 untouched.
    stem: str | None = None
    # Only index documents in these languages (language gate — the engine
    # analog of the reference's file-type predicate, predict.py:52).
    index_langs: tuple[str, ...] = ("en",)

    # Shuffle parallelism used for explicit repartitions during the build.
    build_partitions: int = 32

    # Text extraction strategy (functions/extract.py): "strip_tags" — the
    # general messy-HTML extractor (drops script/style/comments, strips
    # tags, decodes entities, squeezes whitespace), Arrow-C++ on the build
    # hot path — is the DEFAULT: real Common-Crawl HTML is messy, and the
    # well-formed-page fast path ("body_p") stays selectable. Layout-
    # affecting: persisted in the index manifest like the analyzer knobs.
    extract_strategy: str = "strip_tags"

    # Positional postings (phrase-query support). Opt-in: the build's token
    # rows then keep their `pos` column through the range shuffle into the
    # encoder, which writes a position stream beside doc/tf/dl — more
    # shuffle and Arrow traffic, bigger index (~+40%).
    # Position semantics: 0-based ordinal in the analyzed token sequence
    # (the reference's token geometry analog, SURVEY.md §1.1 item 2).
    with_positions: bool = False

    # Store the extracted text in the docs table (the Lucene stored-fields
    # analog). Opt-in: roughly doubles the docs table, and is what snippet
    # generation / highlighting (query/snippets.py) reads at serving time.
    store_text: bool = False

    # Fielded indexing (BM25F-lite; () = single-field, the default).
    # When set (e.g. ("title", "body")), each field is indexed under a
    # field-qualified dictionary key `field:term` — exactly Lucene's
    # per-field term dictionary — and each posting's doc_len stream holds
    # the FIELD length, so per-field BM25 normalization needs no codec or
    # layout change. Per-field avgdl lands in stats.json ("fields").
    # Input contract: with use_stored_text the pages frame carries one text
    # column per field; with html extraction only ("title", "body") is
    # supported (title tag + strip_tags). Query-time: a `fields`
    # {field: weight} map rewrites terms to a weighted OR/AND-of-OR tree of
    # field leaves (query/booltree.py), and `field:term` leaves in the BOOL
    # grammar pick up their field's normalization automatically.
    fields: tuple[str, ...] = ()

    # Top-k default (reference does top-1 argmax, acp/acp.py:117; engine
    # generalizes to top-k with deterministic doc_id tie-break).
    default_k: int = 10

    # Score comparison epsilon for rank-identity tests (float64 accumulate,
    # then round to 9 decimals before comparing).
    score_decimals: int = 9

    extra: dict = field(default_factory=dict)
