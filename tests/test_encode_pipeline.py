"""One encode pipeline for every index writer (index/build.py).

build_index and update_index both analyze once and stream token rows
(term, doc_id, doc_len[, pos]) into the same range exchange and encode
kernel; tf always comes from the kernel's run length. So for either writer
and either field layout, a positional index and a non-positional one over
the same pages hold byte-identical doc/tf/dl streams and block metadata —
only the position stream (pos_blob, block_pos_off) differs.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from invoicenet_spark.config import EngineConfig
from invoicenet_spark.index.build import IndexPaths, read_postings
from invoicenet_spark.sources.snapshots import SnapshotTable
from invoicenet_spark.streaming.incremental import update_index

KEY = ["term_id", "shard"]
SAME_COLS = [
    "df_shard", "doc_blob", "tf_blob", "dl_blob", "block_last",
    "block_doc_off", "block_tf_off", "block_dl_off", "block_max_tf",
    "block_min_dl",
]
WORDS = ["spark", "data", "index", "query", "shard", "block", "term", "doc"]
LAYOUTS = {"plain": (), "fielded": ("title", "body")}


def _pages(spark, start, n, seed):
    """Tiny pages with repeated words (tf > 1) carrying both a `text`
    column and title/body fields."""
    rng = np.random.default_rng(seed)
    rows = []
    for d in range(start, start + n):
        title = " ".join(rng.choice(WORDS, size=rng.integers(1, 4)))
        body = " ".join(rng.choice(WORDS, size=rng.integers(3, 12)))
        rows.append((f"u{d:04d}", f"{title} {body}", title, body, "en"))
    return spark.createDataFrame(
        rows, "url string, text string, title string, body string, lang string"
    )


def _postings(spark, root, min_shard=0):
    pdf = (
        read_postings(spark, IndexPaths(root))
        .where(F.col("shard") >= min_shard)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    assert len(pdf) > 0
    return pdf


def _assert_only_positions_differ(pos, flat):
    assert pos[KEY].values.tolist() == flat[KEY].values.tolist()
    for c in SAME_COLS:
        a, b = pos[c].tolist(), flat[c].tolist()
        if c.endswith("_blob"):
            assert [bytes(x) for x in a] == [bytes(x) for x in b], c
        else:
            assert [list(np.ravel(x)) for x in a] == [list(np.ravel(x)) for x in b], c
    assert all(len(bytes(x)) > 0 for x in pos["pos_blob"])
    assert all(len(bytes(x)) == 0 for x in flat["pos_blob"])
    assert all(not np.any(x) for x in flat["block_pos_off"])


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_positional_and_flat_encodes_agree(spark, tmp_path, layout):
    table = SnapshotTable(str(tmp_path / "pages"))
    roots = {p: str(tmp_path / f"idx_{p}") for p in (True, False)}
    cfgs = {
        p: EngineConfig(
            shard_size=16, block_size=4, build_partitions=2,
            with_positions=p, fields=LAYOUTS[layout],
        )
        for p in (True, False)
    }

    # build_index writer: update_index's cold start is a full build
    table.append(_pages(spark, 0, 40, seed=1))
    for p in (True, False):
        update_index(spark, table, roots[p], cfgs[p], use_stored_text=True)
    _assert_only_positions_differ(
        _postings(spark, roots[True]), _postings(spark, roots[False])
    )

    # update_index writer: one delta lands in fresh shards
    table.append(_pages(spark, 40, 24, seed=2))
    for p in (True, False):
        res = update_index(spark, table, roots[p], cfgs[p], use_stored_text=True)
        assert res["docs_added"] == 24
    first_new = 48 // 16  # next shard boundary after doc ids 0..39
    _assert_only_positions_differ(
        _postings(spark, roots[True], first_new),
        _postings(spark, roots[False], first_new),
    )
