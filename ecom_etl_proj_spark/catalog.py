"""Table catalog: schema contracts + parquet loading.

The reference ingests CSVs with hand-written explicit StructType schemas
(/root/reference/spark_transform.py:96-208) to avoid inferSchema drift.
We keep that contract idea: each table has a declared schema, loads are
validated against it, and readers select only declared columns so column
pruning reaches the parquet scan.

Every parquet read in the package goes through ``read_parquet``: the
schema comes from a file footer, so opening a table runs no Spark job
(Spark's own inference runs one per table), and the scan is a plain
parquet scan, so Catalyst still handles predicate pushdown / column
pruning / partition pruning. On a real lake the fact tables (orders,
lineitem, events) would be written partitioned by date and bucketed by
join key to make the fact-fact join shuffle-free.
"""

from __future__ import annotations

import json
import os
import weakref
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Key declarations — the single source of truth shared by the
# constraint-audit expectation suite (operators/cleaning.py +
# plans/registry.py oracle) and the warehouse DDL generator
# (sources/ingest.py), so the engines and the DDL can never drift on
# which keys exist (the reference declares these in its target DDL,
# local/create_schema_tables.py:1-140 / target_layer.py:36-154).
PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
}

# (table, fk_column, parent_table, parent_column) — the star schema's
# seven FK edges.
FOREIGN_KEYS: list[tuple[str, str, str, str]] = [
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
]

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are bounded by geography; supplier/part grow but stay
# orders of magnitude below the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier")

# Tables whose downstream operators do heavy per-row fan-out work
# (shingle/token explodes) + the partitioning key those operators
# reuse. A parquet file with a single row group cannot be split, so a
# single-file table runs its scan stage — including any explode fused
# into it — on one task; when that happens we hash-repartition on the
# natural key so the explode+aggregate work spreads across cores, and
# the doc_id key makes the per-doc aggregations shuffle-free on top.
# Everything else is deliberately NOT listed (measured, not guessed):
# window/groupBy queries already get parallelism from their own
# shuffle, and for light scan+agg tables the parse cost dominates, so
# an extra exchange only adds latency. On a real lake files are
# many/bucketed and this path never triggers.
SPLIT_KEYS = {
    "documents": "doc_id",
}

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# Row-count hints read from parquet FOOTERS at load time (metadata
# only, no Spark job), keyed weakly on the DataFrame handle. Operators
# that auto-scale parameters from the corpus size (similarity's ANN
# family) consult this before ever firing a count() action, so a
# registered plan build on a fresh handle triggers zero Spark jobs.
# Weak keys: entries die with the handle; a re-load after an append
# re-reads the footers, so the hint is as fresh as the handle itself.
ROW_HINTS: "weakref.WeakKeyDictionary[DataFrame, int]" = (
    weakref.WeakKeyDictionary()
)


def _tree_mtime(path: str) -> float:
    """Newest mtime across the path, its symlink (a generation swap
    renames a fresh link into place), and every non-system DIRECTORY
    under it — the cache key component that invalidates footer memos
    after an append/copy_into/compaction touches the table. Directory
    mtimes suffice: every writer here creates, renames or deletes
    files, or swaps the generation pointer; nothing rewrites a data
    file in place. Statting dirs only keeps a repeat load_table at
    O(dirs) driver work."""
    try:
        newest = os.lstat(path).st_mtime
        newest = max(newest, os.stat(path).st_mtime)
        if os.path.isdir(path):
            for root, dirs, _files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                try:
                    newest = max(newest, os.stat(root).st_mtime)
                except OSError:
                    pass
        return newest
    except OSError:
        return -1.0


def _hidden(name: str) -> bool:
    """Names Spark's file index skips (``_SUCCESS``, ``.crc`` files, the
    ``_load_history`` ledger), partition directories excepted."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _data_files(path: str):
    """The data files Spark lists for a local parquet path, sorted: the
    path itself for a file, else every file under the directory outside
    hidden names; nothing for a path off the local file system."""
    if os.path.isfile(path):
        yield path
        return
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        yield from (os.path.join(root, f) for f in sorted(files) if not _hidden(f))


@lru_cache(maxsize=256)
def _footer_rows_at(path: str, mtime: float) -> int | None:
    """Total row count from parquet footer metadata (mtime-keyed so
    appends invalidate the memo). No data file is unknown, NOT zero: a
    0 hint would make auto-scaled params (n_centroids etc.) diverge
    from the oracle's live count(*)."""
    del mtime  # cache-key component only
    try:
        import pyarrow.parquet as pq

        files = list(_data_files(path))
        return sum(pq.read_metadata(f).num_rows for f in files) if files else None
    except Exception:  # pragma: no cover - remote/odd layouts
        return None


@lru_cache(maxsize=256)
def _few_splits_at(path: str, mtime: float) -> bool:
    """True if the parquet path can't parallelize a scan (fewer than 8
    row groups / files). Checked from file metadata (milliseconds,
    mtime-keyed cache) — never by resolving the Spark plan."""
    del mtime  # cache-key component only
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).num_row_groups < 8
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        return len(files) < 8
    except Exception:  # pragma: no cover - remote/odd layouts: assume fine
        return False


# Spark's parquet inference type for the Arrow column types this
# package's inputs use; any other type falls back to Spark's inference.
_ARROW_TYPES: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "large_string": T.StringType(),
    "date32[day]": T.DateType(),
}


def _spark_type(t, naive_ts: T.DataType) -> T.DataType:
    """The type Spark's parquet inference gives an Arrow column type:
    TIMESTAMP(NANOS) is ``bigint`` (the only form Spark reads it in,
    ``nanosAsLong``), a tz-naive timestamp is ``naive_ts``. Raises
    KeyError for a type this does not map."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return T.LongType()
        return T.TimestampType() if t.tz else naive_ts
    if pa.types.is_list(t):
        return T.ArrayType(_spark_type(t.value_type, naive_ts))
    return _ARROW_TYPES[str(t)]


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's inference reads from the first data file's
    footer: the schema a Spark writer stored, else the converted Arrow
    schema. None for no local data file, a file that is no parquet, or
    INT96 timestamps or another type ``_spark_type`` does not map."""
    import pyarrow.parquet as pq

    file = next(_data_files(path), None)
    if file is None:
        return None
    try:
        meta = pq.read_metadata(file)
        stored = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        if stored is not None:
            return T.StructType.fromJson(json.loads(stored))
        if any(c.physical_type == "INT96" for c in meta.schema):
            return None
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        naive_ts = T.TimestampNTZType() if ntz == "true" else T.TimestampType()
        return T.StructType(
            [
                T.StructField(f.name, _spark_type(f.type, naive_ts))
                for f in meta.schema.to_arrow_schema()
            ]
        )
    except Exception:  # unreadable footer or unmapped type: Spark infers
        return None


def read_parquet(
    spark: SparkSession, path: str, empty_schema: T.StructType | str | None = None
) -> DataFrame:
    """Open a parquet file or table directory with the schema Spark
    would infer, taken from a file footer (``_footer_schema``), so no
    schema-inference job runs; partition discovery still appends
    partition columns. A local directory with no data file (a zero-row
    partitioned write leaves only ``_SUCCESS``) reads as zero rows of
    ``empty_schema``. Anything ``_footer_schema`` cannot answer falls
    back to Spark's own inference."""
    schema = _footer_schema(spark, path)
    if schema is None and os.path.isdir(path) and next(_data_files(path), None) is None:
        schema = empty_schema
    if schema is None:
        # Spark infers TIMESTAMP(NANOS) only under this legacy flag (a
        # runtime conf, so it also works in a driver-owned session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


# Footer types ``load_table`` reads a declared timestamp column from:
# bigint nanos (TIMESTAMP(NANOS)), a tz-naive and a tz-aware timestamp.
_TIMESTAMP_FORMS = ("bigint", "timestamp_ntz", "timestamp")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with ``read_parquet`` (no Spark job), projected
    to its declared schema columns and types."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    # Explicit projection keeps the read schema pinned to the contract so
    # downstream column pruning is exact even if the files gain columns.
    # The footer types pick each timestamp's conversion: TIMESTAMP(NANOS)
    # reads as bigint nanos, floor-divided to micros (DuckDB's ns→us
    # truncation); a tz-naive one reads as TIMESTAMP_NTZ (cast under the
    # UTC session tz, a pure reinterpret). SQL strings: one py4j call per
    # table instead of several per column.
    actual = {f.name: f.dataType for f in _footer_schema(spark, path) or df.schema}
    cols = []
    for f in SCHEMAS[name].fields:
        c = f"`{f.name}`"
        if isinstance(f.dataType, T.TimestampType):
            if isinstance(actual.get(f.name), T.LongType):
                c = f"timestamp_micros({c} div 1000)"
            elif not isinstance(actual.get(f.name), T.TimestampType):
                c = f"CAST({c} AS TIMESTAMP)"
        cols.append(f"{c} AS `{f.name}`")
    out = df.selectExpr(*cols)
    # one stat-walk serves both memo keys (the walk IS the key
    # computation, so each helper would otherwise repeat it)
    mt = _tree_mtime(path)
    key = SPLIT_KEYS.get(name)
    if key is not None and _few_splits_at(path, mt):
        out = out.repartition(spark.sparkContext.defaultParallelism, key)
    n = _footer_rows_at(path, mt)
    if n is not None:
        try:
            ROW_HINTS[out] = n
        except TypeError:  # pragma: no cover - unhashable handle
            pass
    return out


# Handle cache: every consumer (bench, the registry's tables_for, tools)
# shares one set of handles per session and directory instead of paying
# the py4j round trips and footer reads again. DataFrames are immutable
# plan handles, so sharing is safe. Keyed by
# session id + dir + register flag; the cached handles keep the session
# reachable, which is fine for this engine's long-lived-session usage.
_TABLES_CACHE: dict[tuple[int, str, bool], dict[str, DataFrame]] = {}


def _session_stopped(frames: dict[str, DataFrame]) -> bool:
    """True if the session backing these cached handles is stopped."""
    try:
        df = next(iter(frames.values()))
        sc = df.sparkSession.sparkContext
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register: bool = True
) -> dict[str, DataFrame]:
    """Load every catalog table; optionally register temp views for SQL."""
    # Evict entries whose session has been stopped: id(spark) can be
    # reused by a new session object, and a stale hit would hand out
    # handles bound to a dead JVM-side plan.
    for k in [k for k, v in _TABLES_CACHE.items() if _session_stopped(v)]:
        del _TABLES_CACHE[k]
    key = (id(spark), sf_dir, register)
    if key in _TABLES_CACHE:
        cached = dict(_TABLES_CACHE[key])
        if register:
            # Temp views are session state the cache can't see: a view
            # dropped or overwritten since the first call must be
            # restored (10 cheap py4j calls, no re-read).
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
        return cached
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    _TABLES_CACHE[key] = dict(out)
    return out


def validate_catalog(spark: SparkSession, sf_dir: str) -> dict[str, list[str]]:
    """Schema-contract validation: missing tables / missing columns /
    unexpected types per table (the reference's pre-dashboard
    check_tables_exist, streamlit/utils.py:64-105, and check.py).

    Metadata-only: each table's columns come from ``read_parquet``'s
    footer schema, so no Spark job runs, and a missing column is
    reported rather than failing ``load_table``'s projection. A declared
    timestamp also accepts the footer types ``load_table`` converts.
    """
    problems: dict[str, list[str]] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            problems[name] = ["missing table"]
            continue
        issues: list[str] = []
        actual = dict(read_parquet(spark, path).dtypes)
        for f in SCHEMAS[name].fields:
            want = f.dataType.simpleString()
            if f.name not in actual:
                issues.append(f"missing column {f.name}")
            elif actual[f.name] != want and not (
                want == "timestamp" and actual[f.name] in _TIMESTAMP_FORMS
            ):
                issues.append(f"column {f.name}: {actual[f.name]} != {want}")
        if issues:
            problems[name] = issues
    return problems
