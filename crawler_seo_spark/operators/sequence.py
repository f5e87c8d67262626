"""Deterministic global sequence assignment for the crawl's two orders.

The dequeue rank and the frontier's ``discovery_seq`` are *total orders*.
The naive ``row_number() OVER (ORDER BY ...)`` plans as a single-partition
window: one reducer sees every row, which dies at 10^10 scale.

:func:`global_sequence` ranks by an arbitrary sort key with no single
reducer and no Python round-trip: range-repartition on the sort key, sort
within partitions, pin the partitioning (localCheckpoint — range sampling
must not re-run between passes), count rows per partition (a tiny
aggregate), then number each row as ``offset[partition] + local_rank``
where the local rank is a per-partition window. Two fully-parallel passes;
the only driver data is one (partition, count) pair per partition. This is
the standard distributed prefix-sum construction (the shape Spark uses
internally for ``zipWithIndex``) — but expressed in DataFrame ops so rows
stay in Tungsten format end to end (the round-1 version went through
``df.rdd.zipWithIndex``, which pickles every row to Python and back).

:func:`global_sequence_arith` needs no rank at all: ``discovery_seq`` only
has to sort like ``(parent_seq, link_pos)``, so it packs the pair into one
long — a column expression, not a pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# discovery_seq = ((parent_seq + 1) << LINK_BITS) | link_pos: a page may
# carry up to 2^20 links, and the parent field keeps the key below 2^62
LINK_BITS = 20
PARENT_LIMIT = 1 << (62 - LINK_BITS)


def global_sequence(df: DataFrame, order_by: list[Column], out_col: str,
                    start: int = 0,
                    num_partitions: int | None = None,
                    with_total: bool = False):
    """Add ``out_col`` = ``start + rank`` of each row in the total order
    defined by ``order_by`` (which must be a unique key of ``df``).

    Returns a DataFrame whose lineage is pinned (internally checkpointed) —
    downstream re-evaluation recomputes only the cheap per-partition window.
    With ``with_total=True`` returns ``(df, row_count)`` — the count is free
    (it is the sum of the per-partition offsets this pass computes anyway),
    so callers never need a separate count job or checkpoint.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    arranged = (
        df.repartitionByRange(n, *order_by)
          .sortWithinPartitions(*order_by)
          .localCheckpoint(eager=True)   # pin range boundaries + partitions
          .withColumn("_pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["_pid"], r["n"])
        for r in arranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
        .collect())
    if not counts:  # empty input: nothing to number
        empty = (arranged.drop("_pid")
                 .withColumn(out_col, F.lit(start).cast("long")))
        return (empty, 0) if with_total else empty
    offsets, acc = {}, start
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    # offsets and the row_number are added in LONG arithmetic — int32
    # lit + int32 row_number would wrap (not error: this sum pre-dates the
    # cast) when a sequence crosses 2^31, which the 10^10 design point does
    off_expr = F.coalesce(
        F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in offsets]),
                F.array(*[F.lit(o).cast("long") for o in offsets.values()])),
            F.col("_pid")),
        F.lit(0).cast("long"))
    w = Window.partitionBy("_pid").orderBy(*order_by)
    out = (arranged
           .withColumn(out_col,
                       F.row_number().over(w).cast("long") - 1 + off_expr)
           .drop("_pid"))
    return (out, acc - start) if with_total else out


def global_sequence_arith(df: DataFrame, out_col: str = "discovery_seq"):
    """Number new links by arithmetic: add ``out_col`` =
    ``((parent_seq + 1) << LINK_BITS) | link_pos`` and pin the result.

    ``df`` holds each new link's first ``(parent_seq, link_pos)``, so the
    key is unique and sorts exactly like that pair. ``parent_seq`` is the
    parent's ``crawl_seq``, which grows strictly across rounds, so every
    round's keys sort after every earlier round's; seeds are
    ``parent_seq = -1`` and get ``0..n-1``. No shuffle, no window, no
    driver offsets: one eager pin, whose observed count and maxima (the
    overflow guards) ride the same job.

    Returns ``(pinned, row_count)``. Raises ``ValueError`` when a key
    would not fit: ``link_pos >= 2^LINK_BITS`` or
    ``parent_seq >= 2^(62 - LINK_BITS)``.
    """
    obs = Observation()  # auto-named: unique across rounds/runs
    key = F.shiftleft(F.col("parent_seq").cast("long") + 1, LINK_BITS) \
        .bitwiseOR(F.col("link_pos").cast("long"))
    pinned = (df.withColumn(out_col, key)
              .observe(obs, F.count(F.lit(1)).alias("n"),
                       F.max("link_pos").alias("max_link"),
                       F.max("parent_seq").alias("max_parent"))
              .localCheckpoint(eager=True))
    got = obs.get
    if (got["max_link"] or 0) >= 1 << LINK_BITS:
        raise ValueError(f"link_pos {got['max_link']} does not fit the "
                         f"{LINK_BITS}-bit link field of discovery_seq")
    if (got["max_parent"] or 0) >= PARENT_LIMIT:
        raise ValueError(f"parent_seq {got['max_parent']} does not fit "
                         f"discovery_seq (limit {PARENT_LIMIT})")
    return pinned, int(got["n"])
