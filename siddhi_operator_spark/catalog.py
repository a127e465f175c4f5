"""Testdata catalog: declared schemas + loaders.

The reference declares every stream/table schema explicitly (SURVEY.md
§2.2 — schemas are never inferred; `[qapi] definition/StreamDefinition.java`).
We mirror that: each table below has a pinned StructType, and loaders
assert the parquet footer matches. Explicit schemas also let Spark skip
footer-sampling on huge directories.
"""

from __future__ import annotations

import functools
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

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
    # Logical schema: ts IS a timestamp (event time). The fixture's
    # physical parquet type has flipped between vintages
    # (TIMESTAMP(NANOS) in early rounds, TIMESTAMP(MICROS) now), so
    # load() sniffs the footer and branches — see _events_ts_kind.
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

TABLES = tuple(SCHEMAS)


@functools.lru_cache(maxsize=None)
def _events_ts_kind(sf_dir: str) -> str:
    """Sniff the events parquet footer: 'native' when ts is a type
    Spark reads directly as TimestampType (TIMESTAMP(MICROS/MILLIS),
    or INT96 — Spark's own legacy timestamp), 'nanos' when it is
    INT64 TIMESTAMP(NANOS) / raw int64 nanos (which Spark only reads
    via ``legacy.parquet.nanosAsLong`` as a long). The fixture has
    shipped in both vintages, so the reader must survive either.

    Uses the parquet-level (not arrow) schema: pyarrow presents BOTH
    INT96 and TIMESTAMP(NANOS) as ``timestamp[ns]``, but only the
    latter needs the long-read path."""
    import glob as _glob

    import pyarrow.parquet as pq

    path = f"{sf_dir.rstrip('/')}/events.parquet"
    if os.path.isdir(path):
        parts = sorted(_glob.glob(f"{path}/*.parquet"))
        if not parts:
            return "native"
        path = parts[0]
    schema = pq.ParquetFile(path).schema
    col = next(
        schema.column(i)
        for i in range(len(schema))
        if schema.column(i).name == "ts"
    )
    if col.physical_type == "INT96":
        return "native"
    if col.physical_type == "INT64":
        lt = str(col.logical_type)
        if "Timestamp" not in lt or "nanoseconds" in lt.lower():
            return "nanos"  # raw epoch nanos, or TIMESTAMP(NANOS)
    return "native"


# Read-schema for the legacy nanos vintage: ts arrives as int64 nanos.
_EVENTS_NANOS_SCHEMA = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.LongType())
        for f in SCHEMAS["events"].fields
    ]
)


def _events_stream_or_batch(spark: SparkSession, sf_dir: str, reader):
    """Shared events read: branch on the sniffed physical ts type so
    batch (`load`) and streaming (`load_events_stream`) can never
    diverge. ``reader(schema) -> DataFrame`` supplies the actual scan."""
    if _events_ts_kind(sf_dir) == "nanos":
        # Session-level conf is required by Spark to accept
        # TIMESTAMP(NANOS) at all; only set on this legacy path.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # already set / immutable in this session
        from pyspark.sql import functions as F

        df = reader(_EVENTS_NANOS_SCHEMA)
        # ns→µs truncation matches DuckDB's read of the same file.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return reader(SCHEMAS["events"])


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with its declared schema."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _events_stream_or_batch(
            spark, sf_dir, lambda schema: spark.read.schema(schema).parquet(path)
        )
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def load_events_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """events.parquet as a file-source stream, ts normalized exactly as
    in `load` (single conversion point for both execution modes).

    Fixture shape matters: `pathGlobFilter` matches LEAF file names
    only, so when events.parquet is a DIRECTORY of part files (how
    Spark itself writes, and how bench's scaled copies ship) the
    globbed read of the parent would silently stream zero rows —
    readStream the directory directly in that case."""
    target = os.path.join(sf_dir, glob)
    if "*" not in glob and os.path.isdir(target):
        return _events_stream_or_batch(
            spark,
            sf_dir,
            lambda schema: spark.readStream.schema(schema).parquet(target),
        )
    return _events_stream_or_batch(
        spark,
        sf_dir,
        lambda schema: (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", glob)
            .parquet(sf_dir)
        ),
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the spark.sql surface
    (the analog of the reference's on-demand/store query entry point —
    SURVEY.md §4.3)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | str,
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table BUCKETED (and sorted) by its join key — the
    co-located-join layout for fact⋈fact at 100 TB: two tables
    bucketed by the same key with the same bucket count join with NO
    shuffle on either side (and no per-task sort when also sorted),
    because matching buckets are already co-partitioned on disk.
    Broadcast covers dimensions; bucketing covers the joins where
    BOTH sides are fact-sized — the third leg of the join strategy
    (`tests/test_plans.py::test_bucketed_join_shuffle_free` pins the
    exchange-free plan).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if not re.fullmatch(r"[a-z][a-z0-9_]*", table):
        # the orphan-location cleanup below derives the path from the
        # name; qualified (`db.tbl`) or mixed-case names would compute
        # the WRONG path and leave the failure this guard exists for
        raise ValueError(
            f"write_bucketed table name must be simple lowercase "
            f"[a-z0-9_], got {table!r}"
        )
    spark = df.sparkSession
    # a managed-table LOCATION can outlive the catalog entry (fresh
    # session over an old spark-warehouse dir) and then saveAsTable
    # refuses with LOCATION_ALREADY_EXISTS. If the table is cataloged,
    # DROP removes its data; otherwise remove the orphan dir — but
    # ONLY if it looks like Spark table output (part files/markers),
    # never silently erase foreign data living at that path.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(f"{wh}/{table}")
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        entries = [st.getPath().getName() for st in fs.listStatus(loc)]
        foreign = [
            n
            for n in entries
            if not (n.startswith(("part-", "_", ".")))
        ]
        if foreign:
            raise ValueError(
                f"refusing to overwrite {wh}/{table}: holds non-table "
                f"entries {foreign[:3]} — not Spark table output"
            )
        fs.delete(loc, True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.format("parquet").saveAsTable(table)
