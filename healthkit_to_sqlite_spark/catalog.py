"""Catalog: load the driver's synthetic parquet tables as DataFrames.

Table inventory & schemas: /root/repo/FIXTURES.md §B, TESTDATA.md.

The one wrinkle is ``events.ts``: written as parquet TIMESTAMP(NANOS)
which Spark's reader rejects outright.  With
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) the
column surfaces as int64 nanoseconds; we rebuild a ``timestamp_ntz``
with exact integer division (``div 1000`` — float division would lose
precision: ns-epoch ≈ 1.7e18 exceeds double's 53-bit mantissa).

Scale note: at 100 TB these loaders are the *only* place that binds a
table name to storage — queries never hard-code paths, so swapping the
local directory for a partitioned data-lake URI (with partition
pruning) is a one-line change here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

#: All driver tables (TESTDATA.md).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing types where needed."""
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanoseconds → microsecond timestamp_ntz (exact int div).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df

