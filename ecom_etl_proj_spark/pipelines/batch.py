"""Layered batch ETL: raw parquet → ODS → STG → DWH, materialized.

Re-expresses the reference's three warehouse layers as one idempotent
Spark job:

- ODS (ref ods_layer.py): typed raw tables. The reference COPYs CSVs
  into typed Snowflake tables with TRY_TO_TIMESTAMP and truncate-reload
  idempotency; here the typed projection is the catalog's schema
  contract and idempotency is ``mode("overwrite")``.
- STG (ref staging_layer.py): ROW_NUMBER dedup, mean imputation of
  numeric nulls, category translation + COALESCE fallback,
  deterministic key→surrogate geo map, sentinel timestamps.
- DWH (ref target_layer.py:36-154): NOT NULL star schema with audit
  columns (INSERTION_DATE/MODIFICATION_DATE), loaded dims-before-facts
  so FK contracts hold, then row-count validated (the reference's
  post-load validation queries, ods_layer.py end-of-run checks).

Scale notes (100 TB):
- Each layer is a separate write so the lineage is restartable per
  layer; within a layer every table load is one independent write job
  (no driver-side row loops anywhere).
- Facts are written date-partitioned so downstream reads prune; dims
  are written unpartitioned single-digit-MB files.
- The dedup/impute/map operators are the composable ones from
  ``operators/cleaning.py`` — one shuffle each, AQE handles skew.
- Validation is count-only (like the reference) plus NOT NULL checks on
  key columns — both FUSED into one action per layer: one groupBy over
  the union of per-table row streams (a per-table job each through
  r10), over column-pruned scans of the written tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ecom_etl_proj_spark import catalog
from ecom_etl_proj_spark.operators import cleaning
from ecom_etl_proj_spark.operators.analytics import CATEGORY_TRANSLATION


@dataclass
class LayerReport:
    """Row counts + contract checks for one pipeline run."""

    ods_counts: dict[str, int] = field(default_factory=dict)
    stg_counts: dict[str, int] = field(default_factory=dict)
    dwh_counts: dict[str, int] = field(default_factory=dict)
    not_null_violations: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(v == 0 for v in self.not_null_violations.values())


def _write(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def _union_tally(streams: dict[str, DataFrame], agg) -> dict[str, int]:
    """One aggregate per table over the UNION of per-table row streams
    (column ``t`` = table name): a whole layer is one scan stage and one
    groupBy shuffle — with AQE on, one map-stage job plus one result
    job, whatever the table count. A table with zero rows reports 0."""
    from functools import reduce

    rows = (
        reduce(DataFrame.unionByName, streams.values())
        .groupBy("t")
        .agg(agg.alias("x"))
        .collect()
    )
    out = dict.fromkeys(streams, 0)
    out.update({r["t"]: r["x"] for r in rows})
    return out


def fused_table_counts(frames: dict[str, DataFrame]) -> dict[str, int]:
    """Row counts for a whole layer in ONE Spark action (see
    ``_union_tally``; tests/test_pipeline.py asserts the job budget)."""
    return _union_tally(
        {name: df.select(F.lit(name).alias("t")) for name, df in frames.items()},
        F.count("*"),
    )


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_back(
    spark: SparkSession, path: str, empty_schema: StructType | str | None = None
) -> DataFrame:
    """A table this pipeline wrote, read with the exact schema Spark
    stored in its file footers (key ``org.apache.spark.sql.parquet.
    row.metadata``), so plan building runs no schema-inference job;
    partition discovery still appends partition columns. A zero-row
    partitioned write leaves no data file, only ``_SUCCESS``: such a
    table reads as zero rows of ``empty_schema``. A path off the local
    file system falls back to Spark's own inference."""
    import glob
    import json

    import pyarrow.parquet as pq

    part = next(
        glob.iglob(
            os.path.join(glob.escape(path), "**", "part-*.parquet"), recursive=True
        ),
        None,
    )
    if part is not None:
        meta = pq.read_schema(part).metadata
        schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    elif os.path.isdir(path):
        schema = empty_schema
    else:  # not a local directory (a remote lake): Spark infers
        schema = None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _fused_counts(
    spark: SparkSession, out_dir: str, layer: str, frames: dict[str, DataFrame]
) -> dict[str, int]:
    """Post-load counts over the tables as WRITTEN (the read-back also
    validates what actually landed; row-group metadata keeps the scan
    cheap): one fused action, no schema-inference job."""
    return fused_table_counts(
        {
            name: read_back(spark, os.path.join(out_dir, layer, name), df.schema)
            for name, df in frames.items()
        }
    )


# ---------------------------------------------------------------------------
# ODS: typed raw load
# ---------------------------------------------------------------------------

ODS_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def run_ods(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Typed raw tables, truncate-reload (overwrite) idempotent."""
    ods = {name: catalog.load_table(spark, sf_dir, name) for name in ODS_TABLES}
    for name, df in ods.items():
        _write(df, os.path.join(out_dir, "ods", name))
    return _fused_counts(spark, out_dir, "ods", ods)


# ---------------------------------------------------------------------------
# STG: cleaned, conformed tables
# ---------------------------------------------------------------------------


def stg_customer(t: dict[str, DataFrame]) -> DataFrame:
    """Dedup + string-normalized customers with surrogate geo key.

    The reference maps each customer zip to one geolocation_id with a
    deterministic tiebreak (staging_layer.py:228-233); nationkey plays
    the zip role here and missing keys get the -1 fallback record
    (staging_layer.py:237-269).
    """
    geo_map = cleaning.dim_key_map(
        t["nation"].select(
            F.col("n_nationkey").alias("geo_key"),
            F.col("n_nationkey").alias("map_key"),
            "n_name",
        ),
        key="map_key",
        value="geo_key",
        order_by=["geo_key"],
    )
    cust = cleaning.dedup_keep_first(
        cleaning.normalize_strings(t["customer"], ["c_mktsegment"]),
        keys=["c_custkey"],
        order_by=["c_custkey"],
    )
    return (
        cust.join(F.broadcast(geo_map), cust["c_nationkey"] == geo_map["map_key"], "left")
        .withColumn("geo_key", F.coalesce(F.col("geo_key"), F.lit(-1)).cast("int"))
        .drop("map_key")
    )


def stg_part(t: dict[str, DataFrame]) -> DataFrame:
    """Mean-imputed, category-translated parts (staging_layer.py:193-225)."""
    spark = t["part"].sparkSession
    trans = spark.createDataFrame(
        list(CATEGORY_TRANSLATION.items()), ["cat", "cat_english"]
    )
    part = cleaning.impute_mean(t["part"], ["p_retailprice"])
    return (
        part.join(F.broadcast(trans), part["p_type"] == trans["cat"], "left")
        .withColumn(
            "category_final",
            F.coalesce(F.col("cat_english"), F.col("p_type"), F.lit("others")),
        )
        .drop("cat", "cat_english")
    )


def stg_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Deduped orders with sentinel timestamps (staging_layer.py:288-316)."""
    return cleaning.sentinel_timestamps(
        cleaning.dedup_keep_first(t["orders"], ["o_orderkey"], ["o_orderkey"]),
        ["o_orderdate"],
    )


def stg_lineitem(t: dict[str, DataFrame]) -> DataFrame:
    """Deduped lineitems keyed by (orderkey, linenumber)."""
    return cleaning.sentinel_timestamps(
        cleaning.dedup_keep_first(
            t["lineitem"],
            ["l_orderkey", "l_linenumber"],
            ["l_orderkey", "l_linenumber"],
        ),
        ["l_shipdate"],
    )


def run_stg(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Build staging tables from the materialized ODS layer."""
    t = {
        name: read_back(spark, os.path.join(out_dir, "ods", name))
        for name in ODS_TABLES
    }
    stg = {
        "customer": stg_customer(t),
        "part": stg_part(t),
        "orders": stg_orders(t),
        "lineitem": stg_lineitem(t),
        "supplier": cleaning.dedup_keep_first(t["supplier"], ["s_suppkey"], ["s_suppkey"]),
        "nation": t["nation"],
        "region": t["region"],
    }
    for name, df in stg.items():
        _write(df, os.path.join(out_dir, "stg", name))
    return _fused_counts(spark, out_dir, "stg", stg)


# ---------------------------------------------------------------------------
# DWH: star schema with audit columns, FK-ordered load
# ---------------------------------------------------------------------------

# key columns that must be NOT NULL post-load (the reference's target DDL
# declares every dim/fact key NOT NULL, target_layer.py:36-154)
DWH_NOT_NULL = {
    "dim_geo": ["geo_key", "nation_name", "region_name"],
    "dim_customer": ["c_custkey", "geo_key"],
    "dim_part": ["p_partkey", "category_final"],
    "dim_supplier": ["s_suppkey"],
    "fact_sales": ["order_key", "line_number", "cust_key", "part_key", "supp_key"],
}


def run_dwh(spark: SparkSession, out_dir: str, snapshot_date: str) -> dict[str, int]:
    """Star-schema load: dims first, then the fact, all audit-stamped."""
    stg = {
        name: read_back(spark, os.path.join(out_dir, "stg", name))
        for name in ("customer", "part", "orders", "lineitem", "supplier", "nation", "region")
    }
    dim_geo = (
        stg["nation"]
        .join(
            F.broadcast(stg["region"]),
            stg["nation"]["n_regionkey"] == stg["region"]["r_regionkey"],
            "left",
        )
        .select(
            F.col("n_nationkey").cast("int").alias("geo_key"),
            F.col("n_name").alias("nation_name"),
            F.coalesce(F.col("r_name"), F.lit("Unknown")).alias("region_name"),
        )
    )
    # the fallback record every missing FK maps to (staging_layer.py:237-269)
    fallback = spark.createDataFrame(
        [(-1, "Unknown", "Unknown")], ["geo_key", "nation_name", "region_name"]
    )
    dim_geo = dim_geo.unionByName(fallback)

    dim_customer = stg["customer"].select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal", "geo_key"
    )
    dim_part = stg["part"].select(
        "p_partkey", "p_name", "p_brand", "category_final", "p_size", "p_retailprice"
    )
    dim_supplier = stg["supplier"].select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

    # LEFT from the fact side like the reference's master join
    # (streamlit/utils.py:177-195): lineitems with dangling order keys
    # survive with the -1 fallback key, keeping the NOT NULL contract.
    fact_sales = (
        stg["lineitem"]
        .join(
            stg["orders"].select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
            stg["lineitem"]["l_orderkey"] == F.col("o_orderkey"),
            "left",
        )
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_number"),
            F.coalesce(F.col("o_custkey"), F.lit(-1)).alias("cust_key"),
            F.col("l_partkey").alias("part_key"),
            F.col("l_suppkey").alias("supp_key"),
            F.coalesce(F.col("o_orderstatus"), F.lit("unknown")).alias("o_orderstatus"),
            F.coalesce(
                F.col("o_orderdate"), F.lit("1900-01-01 00:00:00").cast("timestamp")
            ).alias("o_orderdate"),
            "l_shipdate",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
        )
    )

    # FK-respecting order: geo → customer/part/supplier → fact
    loads: list[tuple[str, DataFrame, list[str] | None]] = [
        ("dim_geo", dim_geo, None),
        ("dim_customer", dim_customer, None),
        ("dim_part", dim_part, None),
        ("dim_supplier", dim_supplier, None),
        ("fact_sales", fact_sales, ["ship_month"]),
    ]
    written = {}
    for name, df, parts in loads:
        written[name] = cleaning.audit_columns(df, snapshot_date)
        _write(written[name], os.path.join(out_dir, "dwh", name), parts)
    return _fused_counts(spark, out_dir, "dwh", written)


def fused_not_null_counts(
    frames: dict[str, DataFrame], cols_of: dict[str, list[str]]
) -> dict[str, int]:
    """NOT NULL violation counts for many tables in ONE Spark action
    (see ``_union_tally``): each table contributes a violation flag per
    row over a scan column-pruned to its key columns — replacing one
    filter+count job per table."""
    from functools import reduce
    from operator import or_

    return _union_tally(
        {
            table: frames[table].select(
                F.lit(table).alias("t"),
                reduce(or_, [F.col(c).isNull() for c in cols])
                .cast("long")
                .alias("viol"),
            )
            for table, cols in cols_of.items()
        },
        F.sum("viol"),
    )


def validate_dwh(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """NOT NULL checks on every declared key column, fused into one
    job for the whole layer (see fused_not_null_counts). A table with
    no data file (an empty ``fact_sales``) has 0 violations."""
    return fused_not_null_counts(
        {
            table: read_back(
                spark,
                os.path.join(out_dir, "dwh", table),
                ", ".join(f"{c} string" for c in cols),
            )
            for table, cols in DWH_NOT_NULL.items()
        },
        DWH_NOT_NULL,
    )


def run_batch_etl(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    snapshot_date: str = "2026-01-01",
) -> LayerReport:
    """The full ODS → STG → DWH pipeline, idempotent per layer."""
    report = LayerReport()
    report.ods_counts = run_ods(spark, sf_dir, out_dir)
    report.stg_counts = run_stg(spark, out_dir)
    report.dwh_counts = run_dwh(spark, out_dir, snapshot_date)
    report.not_null_violations = validate_dwh(spark, out_dir)
    return report
