"""Lake maintenance: small-file compaction.

At 100 TB the silent killer is file count, not byte count: streaming
sinks and per-batch appends leave thousands of KB-sized files per
partition, and every downstream scan pays per-file open/footer cost.
The fix is periodic rewrite at a target file size — this module is that
op, kept deliberately simple (read → repartition to ceil(bytes/target)
→ overwrite) so it composes with any table layout.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_etl_proj_spark import catalog
from ecom_etl_proj_spark.pipelines.swap import generation_swap, resolve_snapshot


def dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory tree."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep: int | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~target-sized files.

    Returns (files_before, files_after). The rewrite lands as a new
    table GENERATION and the table pointer swaps atomically
    (``pipelines/swap.generation_swap``, shared with the CDC MERGE) —
    a crash mid-compact never leaves the table truncated, and
    concurrent readers never observe a half-written directory (pin a
    snapshot with ``swap.resolve_snapshot`` for scan-long
    consistency). On Delta/Iceberg this is a native OPTIMIZE commit.
    ``keep`` retains that many pre-rewrite generations as time-travel
    snapshots (``swap.read_generation``) — OPTIMIZE without losing
    VERSION AS OF history.
    """
    snap = resolve_snapshot(path)
    before, total = dir_stats(snap)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = catalog.read_parquet(spark, snap)
    generation_swap(
        path,
        lambda gen: df.repartition(n_out).write.mode("overwrite").parquet(gen),
        keep=keep,
    )
    after, _ = dir_stats(path)
    return before, after


def cluster_table(
    spark: SparkSession,
    path: str,
    cluster_col: str,
    n_files: int = 8,
    keep: int | None = None,
) -> int:
    """Range-cluster a table on a key: every output file owns a disjoint
    key range, written sorted within the file.

    This is the data-layout half of pruning. Partition pruning handles
    the directory level; WITHIN a partition, parquet min/max footer
    stats only skip files whose key ranges don't overlap the predicate
    — which random layout never achieves. repartitionByRange assigns
    disjoint ranges per output task (sampling the key distribution, so
    skew produces balanced files, not equal-width ranges), and the
    in-file sort tightens row-group stats too. At 100 TB a point/range
    predicate then reads ~1/n_files of the data instead of all of it
    (the single-key case of Z-ordering; multi-key locality needs a
    space-filling curve, same write pattern).

    Same atomic generation-swap contract as ``compact``. Returns the
    number of data files written.
    """
    df = catalog.read_parquet(spark, resolve_snapshot(path))
    generation_swap(
        path,
        lambda gen: (
            df.repartitionByRange(n_files, F.col(cluster_col))
            .sortWithinPartitions(cluster_col)
            .write.mode("overwrite")
            .parquet(gen)
        ),
        keep=keep,
    )
    n, _ = dir_stats(path)
    return n


def cluster_table_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits_per_dim: int = 4,
) -> int:
    """Multi-key clustering via a Z-order (Morton) curve — the layout
    for predicates on EITHER of two keys.

    Single-key range clustering leaves the second key scattered across
    every file; interleaving the bits of both keys' quantile-bucket
    indexes gives each file a compact rectangle in (colA, colB) space,
    so min/max footer stats prune files for filters on either column.

    Scale shape: per-dimension bucket boundaries come from ONE
    approx_percentile reduce (bounded state, broadcast back); bucket
    assignment and bit interleaving are row-local expressions; the only
    shuffle is the final repartitionByRange on the z-value. No global
    window (an ntile/percent_rank formulation would serialize the whole
    table through one task).

    Same atomic generation-swap contract as ``compact``. Returns files
    written.
    """
    if len(cols) != 2:
        raise ValueError("z-order here interleaves exactly two keys")
    df = catalog.read_parquet(spark, resolve_snapshot(path))
    n_buckets = 1 << bits_per_dim
    qs = [i / n_buckets for i in range(1, n_buckets)]
    qarr = ", ".join(str(q) for q in qs)
    bounds = df.agg(
        *[
            F.expr(
                f"approx_percentile({c}, array({qarr}), 10000)"
            ).alias(f"__b_{c}")
            for c in cols
        ]
    )
    with_buckets: DataFrame = df.crossJoin(F.broadcast(bounds))
    bucket_cols = []
    for c in cols:
        # bucket = number of boundaries strictly below the value
        bucket = F.expr(
            f"size(filter(__b_{c}, b -> {c} > b))"
        ).alias(f"__k_{c}")
        bucket_cols.append(bucket)
    with_buckets = with_buckets.select("*", *bucket_cols)
    z = None
    for i in range(bits_per_dim):
        for d, c in enumerate(cols):
            bit = F.shiftright(F.col(f"__k_{c}"), i).bitwiseAND(F.lit(1))
            term = F.shiftleft(bit, i * len(cols) + d)
            z = term if z is None else z + term
    clustered = (
        with_buckets.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *[f"__k_{c}" for c in cols], *[f"__b_{c}" for c in cols])
    )
    generation_swap(
        path, lambda gen: clustered.write.mode("overwrite").parquet(gen)
    )
    n, _ = dir_stats(path)
    return n
