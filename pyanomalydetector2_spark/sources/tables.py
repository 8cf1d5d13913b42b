"""Testdata table loaders (S1-S12 re-expressed).

The reference hand-builds SQL WHERE strings and re-sorts every frame
(models/history.py:12-29, data_getter/csv_getter.py:25-112). Here a scan is
just ``spark.read.parquet`` + declarative filters: Catalyst pushes the
predicates into the parquet reader (PushedFilters) and prunes columns, and
ordering moves into window specs where it's actually needed (SURVEY §2.6 O1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
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



def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def events_as_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the events table onto the reference's canonical history shape
    ``(itemid, clock, value)`` (models/history.py:10) — user_id keys the
    series, ts→epoch seconds. This is the S10 'model table scan' with the
    projection/rename done declaratively (reference forces df.columns=fields,
    csv_getter.py:29)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("itemid"),
        F.unix_timestamp("ts").cast("long").alias("clock"),
        F.col("value").alias("value"),
    )


def time_range(df: DataFrame, startep: int, endep: int, col: str = "clock") -> DataFrame:
    """P2 time-range predicate — pushed to the scan by Catalyst."""
    return df.filter((F.col(col) >= startep) & (F.col(col) <= endep))


def semi_join_ids(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """P3 id-set predicate for large id sets: broadcast left-semi join
    instead of a literal IN list."""
    return df.join(F.broadcast(ids.select(key).distinct()), key, "left_semi")


def anti_join_ids(df: DataFrame, ids: DataFrame, key: str) -> DataFrame:
    """P10/U5 anti-membership filter (reference detector.py:527,
    models/anomalies.py:91-101, models/model.py:44-59)."""
    return df.join(F.broadcast(ids.select(key).distinct()), key, "left_anti")
