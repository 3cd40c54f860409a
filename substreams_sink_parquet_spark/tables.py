"""Fixture-table loading helpers.

The driver generates the TPC-H-ish star schema + events/documents/embeddings
tables as one parquet file per table under /root/testdata/sf*/ (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown fixture table {name!r}")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (rejected by the vectorized
        # reader — read nanos-as-long and truncate to micros) and as plain
        # TIMESTAMP micros (read as NTZ under inferTimestampNTZ). Normalize
        # both to TimestampType so downstream ops see one stable type.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            # NTZ wall clock -> the instant with that UTC rendering. A plain
            # cast would go through the session timezone and break the
            # TZ-invariance the whole catalog is verified under (driver runs
            # with an arbitrary host TZ); timestampdiff on NTZ is pure
            # wall-clock arithmetic, so this is session-TZ-independent.
            df = df.withColumn("ts", F.timestamp_micros(F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
