"""Scalable deterministic dense-ID assignment.

Engine analog of the reference's bounded hash dictionaries
(invoicenet/acp/data.py:145-148: md5(text) % 2^16) — but hash-only IDs
collide, and rank-identity (north_rule) forbids collisions. So IDs are
dense 0..n-1, assigned WITHOUT a single-partition global sort:

  1. bucket := pmod(xxhash64(key), P) — an EXPLICIT column, a pure function
     of the key. (Neither repartitionByRange boundaries nor
     spark_partition_id() are stable across the two jobs below — range
     sampling re-draws, and AQE may renumber physical partitions; both
     corrupted IDs in practice. A value column can't.)
  2. job 1: count rows per bucket (tiny driver-side dict; a partial
     aggregate, so no full-row shuffle).
  3. exclusive prefix-sum over buckets 0..P-1 → per-bucket base offset.
  4. job 2: repartition(P, bucket) + sortWithinPartitions(bucket, key) —
     all rows of a bucket land in one task, contiguous and key-sorted —
     then mapInPandas assigns base[bucket] + running ordinal per bucket.

The classic zipWithIndex offset trick in DataFrame/Arrow terms; scales to
10^12 keys (each task sees only its buckets; the driver holds one long per
bucket). IDs are dense and deterministic but NOT globally ordered by key —
no engine invariant needs global order, only a fixed total order for
tie-breaks, which (bucket, key) provides.

Nothing is persisted here: both jobs read the input's lineage, so a caller
whose input is costly to recompute persists it around its own write and
releases it after (build._term_dictionary). A persisted frame left behind
would not only pin memory: a later frame with the same plan over the same
path (a rebuild after the files changed) would be served from it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def assign_dense_ids(
    df: DataFrame,
    key: str,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``id_col`` = dense 0-based ID over distinct ``key``.

    Input must already be distinct on ``key`` (caller does .distinct() /
    groupBy first). Deterministic for any partitioning of the input and
    across re-executions. Lazy: job 2 runs when the result is written.
    """
    n_parts = int(
        num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    bucketed = df.withColumn(
        "_bkt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    )

    # Job 1: per-bucket counts (tiny: at most n_parts rows).
    counts = {
        r["_bkt"]: r["cnt"]
        for r in bucketed.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
    }
    base_arr = np.zeros(n_parts + 1, dtype=np.int64)
    for b in range(n_parts):
        base_arr[b + 1] = base_arr[b] + counts.get(b, 0)
    base = {b: int(base_arr[b]) for b in range(n_parts)}

    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{id_col}` long"]
    )

    def add_ids(batches):
        # Job 2: rows arrive sorted by (_bkt, key); buckets are contiguous.
        seen: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bkts = pdf["_bkt"].to_numpy()
            ids = np.empty(len(pdf), dtype=np.int64)
            # contiguous runs of equal bucket
            change = np.ones(len(pdf), dtype=bool)
            change[1:] = bkts[1:] != bkts[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], len(pdf))
            for s, e in zip(starts, ends):
                b = int(bkts[s])
                off = base[b] + seen.get(b, 0)
                ids[s:e] = np.arange(off, off + (e - s), dtype=np.int64)
                seen[b] = seen.get(b, 0) + (e - s)
            out = pdf.drop(columns=["_bkt"])
            out[id_col] = ids
            yield out

    ranged = bucketed.repartition(n_parts, F.col("_bkt")).sortWithinPartitions("_bkt", key)
    return ranged.mapInPandas(add_ids, schema=out_schema)
