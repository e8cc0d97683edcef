"""Incremental dimension maintenance: CDC diff → merge, not reload.

The reference maintains its warehouse by truncate-reload
(ods_layer.py's COPY after TRUNCATE); at 100 TB reloading a dimension
for a 0.1% change is the single most wasteful thing a pipeline can do.
This module completes the CDC story started by
``operators/cleaning.snapshot_diff``:

1. diff the incoming snapshot against the current dimension (insert /
   update / delete / unchanged, one co-partitioned full-outer join);
2. merge: surviving rows = unchanged + updated + inserted versions,
   audit-stamped — deletes drop out, modification_date only moves for
   rows that actually changed;
3. write the new dimension generation to a staged directory and swap,
   so readers never observe a half-written table (same pattern as
   pipelines/maintenance.compact).

On a format with native MERGE (Delta/Iceberg) step 2-3 collapse into
``MERGE INTO``; the plan shape (join on the business key, then
conditional projection) is identical — this is that operation
expressed on plain parquet. ``lakehouse_formats`` probes whether such
a format is actually loadable in the running session; in this build
environment the probe comes back empty (no ``delta`` Python package,
no delta-spark or iceberg-spark-runtime jar under pyspark/jars, and no
network to fetch one), so the staged-swap parquet path is the
production path here and the MERGE INTO variant is deliberately NOT
shipped as untestable dead code. On a cluster where the probe reports
a format, the merge plan below maps 1:1 onto ``MERGE INTO`` (WHEN
MATCHED AND changed THEN UPDATE / WHEN NOT MATCHED THEN INSERT / WHEN
NOT MATCHED BY SOURCE THEN DELETE).
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecom_etl_proj_spark import catalog
from ecom_etl_proj_spark.operators.cleaning import snapshot_diff
from ecom_etl_proj_spark.pipelines.swap import generation_swap, resolve_snapshot


def lakehouse_formats(spark: SparkSession) -> list[str]:
    """ACID table formats with native MERGE INTO loadable in this
    session (probed, not assumed): 'delta' needs both the delta-spark
    Python package and its jar on the session classpath; 'iceberg'
    needs the iceberg-spark-runtime jar. Probe result in this build
    container: [] (verified by tests/test_incremental.py) — which is
    why ``merge_dimension`` has no fmt='delta' branch yet; add one
    guarded by this probe when deploying somewhere the jars exist."""
    found = []
    jvm = spark.sparkContext._jvm
    try:
        import delta  # noqa: F401

        jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
        found.append("delta")
    except Exception as exc:
        logging.getLogger(__name__).debug("delta probe negative: %s", exc)
    try:
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        found.append("iceberg")
    except Exception as exc:
        logging.getLogger(__name__).debug("iceberg probe negative: %s", exc)
    return found


def merge_dimension(
    current: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    snapshot_date: str,
) -> tuple[DataFrame, DataFrame]:
    """Return (merged dimension, change log).

    The merged frame carries every ``incoming`` business column plus
    audit columns: ``insertion_date`` survives from the current
    generation for unchanged/updated rows, ``modification_date`` is
    bumped only for inserted/updated rows.
    """
    diff = snapshot_diff(
        current.select(*keys, *compare_cols),
        incoming.select(*keys, *compare_cols),
        keys,
        compare_cols,
    )
    d = F.lit(snapshot_date).cast("date")
    # Carry BOTH audit dates from the current generation: an unchanged
    # row must keep the modification_date of its last actual change,
    # not regress to its insertion_date.
    cur_meta = current.select(
        *keys,
        F.col("insertion_date").alias("__cur_ins"),
        F.col("modification_date").alias("__cur_mod"),
    )
    merged = (
        incoming.join(diff, keys)
        .filter(F.col("change_type") != "delete")
        .join(cur_meta, keys, "left")
        .select(
            *incoming.columns,
            F.coalesce(F.col("__cur_ins"), d).alias("insertion_date"),
            F.when(F.col("change_type").isin("insert", "update"), d)
            .otherwise(F.coalesce(F.col("__cur_mod"), F.col("__cur_ins")))
            .alias("modification_date"),
        )
    )
    return merged, diff


def read_dimension(spark: SparkSession, dim_path: str) -> DataFrame:
    """Snapshot-pinned read of a merge-maintained dimension: resolve
    the generation POINTER (symlink) first and scan the immutable
    generation directory it targets. This is how a concurrent reader
    stays consistent through swaps — the resolution is one syscall, the
    resolved directory never mutates, and the previous generation
    out-lives the swap by one merge cycle, so even a reader that
    resolved just before a swap finishes against intact files. (Reading
    the un-resolved path directly would record ``dim/part-*`` file
    paths whose target changes mid-scan — exactly the torn read the
    concurrent-reader test would catch.) The lakehouse analog: Delta/
    Iceberg readers pin a snapshot's file list at query start."""
    return catalog.read_parquet(spark, resolve_snapshot(dim_path))


def apply_incremental(
    spark: SparkSession,
    dim_path: str,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    snapshot_date: str,
) -> dict[str, int]:
    """Merge ``incoming`` into the materialized dimension at
    ``dim_path`` with a staged-swap write. Returns change-type counts
    (the reference's post-load validation, now per change kind).

    Reader atomicity (r11): each merge writes a NEW GENERATION
    directory and atomically re-points the table symlink
    (``pipelines/swap.generation_swap`` — shared with the compaction
    and clustering rewrites), so a reader resolving the path sees
    entirely the old or entirely the new generation, never a
    half-written directory. tests/test_pipeline.py hammers concurrent
    readers through repeated merges to prove no torn read surfaces;
    see swap.py for the grace-period, migration and crash-recovery
    contract.
    """
    current = read_dimension(spark, dim_path)
    merged, diff = merge_dimension(
        current, incoming, keys, compare_cols, snapshot_date
    )
    counts = {
        r["change_type"]: r["n"]
        for r in diff.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    generation_swap(
        dim_path,
        lambda gen_dir: merged.write.mode("overwrite").parquet(gen_dir),
    )
    return counts


SCD2_OPEN_END = "9999-12-31"


def scd2_initial(incoming: DataFrame, snapshot_date: str) -> DataFrame:
    """First generation of a type-2 dimension: every row open-ended."""
    return incoming.select(
        "*",
        F.lit(snapshot_date).cast("date").alias("valid_from"),
        F.lit(SCD2_OPEN_END).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_apply(
    current: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    snapshot_date: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2: history-preserving merge.

    The audit-column scheme the reference's target layer uses
    (INSERTION/MODIFICATION_DATE, target_layer.py:36-154) answers
    "when did this row last change"; SCD2 answers "what did this row
    say on date X" — the warehouse pattern for dimensions that must
    support as-of reporting. Semantics per business key:

    - unchanged → current row passes through;
    - changed   → current row CLOSED (valid_to = snapshot), new open
      version appended;
    - deleted   → current row closed, no successor;
    - inserted  → new open version.

    One co-partitioned diff join against the open rows only + a union
    with closed history — history rows are never rewritten, so the
    incremental cost is O(open rows + changes), independent of how much
    history has accumulated.
    """
    closed_history = current.filter(~F.col("is_current"))
    open_rows = current.filter(F.col("is_current"))
    business_cols = [c for c in incoming.columns]
    diff = snapshot_diff(
        open_rows.select(*keys, *compare_cols),
        incoming.select(*keys, *compare_cols),
        keys,
        compare_cols,
    )
    d = F.lit(snapshot_date).cast("date")
    # open rows: survive untouched when unchanged, closed otherwise
    survived = (
        open_rows.join(diff, keys)
        .withColumn(
            "valid_to",
            F.when(F.col("change_type").isin("update", "delete"), d).otherwise(
                F.col("valid_to")
            ),
        )
        .withColumn(
            "is_current",
            F.when(F.col("change_type").isin("update", "delete"), F.lit(False))
            .otherwise(F.col("is_current")),
        )
        .select(*business_cols, "valid_from", "valid_to", "is_current")
    )
    # new versions for inserts and updates
    new_versions = (
        incoming.join(diff, keys)
        .filter(F.col("change_type").isin("insert", "update"))
        .select(
            *business_cols,
            d.alias("valid_from"),
            F.lit(SCD2_OPEN_END).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    return closed_history.select(
        *business_cols, "valid_from", "valid_to", "is_current"
    ).unionByName(survived).unionByName(new_versions)


def scd2_as_of(dim: DataFrame, as_of_date: str) -> DataFrame:
    """Point-in-time view of a type-2 dimension: rows valid on the date
    (valid_from <= d < valid_to — half-open, matching the close rule)."""
    d = F.lit(as_of_date).cast("date")
    return dim.filter((F.col("valid_from") <= d) & (F.col("valid_to") > d))
