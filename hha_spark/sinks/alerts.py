"""Alerts sink: a persisted Parquet table.

The reference's sink is `collect()` + a driver loop that prints/logs
each rule and remembers raised alerts in an in-memory dict that dies
with the process (hha.py:223-249). Writing alerts to a table instead
(a) survives restarts, (b) turns the TTL dedup into a broadcast
anti-join against `recent_alerts`, and (c) gives downstream rule
generators a queryable log. `collect_rules` is the cycle's one action;
`alerts_frame` turns the rules it collected back into the rows the
append writes, so the append never re-evaluates the detection plan.
"""

from __future__ import annotations

import ipaddress

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from hha_spark.functions.local import arrow_rows_frame
from hha_spark.schemas import ALERTS_SCHEMA
from hha_spark.sources import fs

# ALERTS_SCHEMA less the detected_at stamp
_RULE_SCHEMA = StructType([f for f in ALERTS_SCHEMA.fields if f.name != "detected_at"])


def append_alerts(alerts: DataFrame, table_path: str, *, detected_at: int) -> None:
    """Stamp and append a cycle's alerts.

    The detection cycles pass `alerts_frame(...)` of the rules they
    collected: a driver-local scan, because the plan that produced the
    rules anti-joins against this very table, and re-evaluating it
    after the write would suppress every alert just raised."""
    (
        alerts.withColumn("detected_at", F.lit(detected_at).cast("long"))
        # Cast every column to its declared type so the parquet footer
        # always matches ALERTS_SCHEMA regardless of whether the caller
        # built sum_val as int (tests) or long (detect_spikes).
        .select(
            [F.col(f.name).cast(f.dataType) for f in ALERTS_SCHEMA.fields]
        )
        .write.mode("append")
        .parquet(table_path)
    )


def recent_alerts(
    spark: SparkSession, table_path: str, *, now: int, ttl_sec: int
) -> DataFrame | None:
    """Alerts raised within the TTL — the dedup anti-join's right side.

    Returns None when the table doesn't exist yet (first cycle). Only
    absence means "no table": any other failure (an unreachable or
    unsupported filesystem, a permissions error) raises, because
    returning None would silently switch TTL dedup off.
    """
    if not fs.exists(spark, table_path):
        return None
    df = spark.read.schema(ALERTS_SCHEMA).parquet(table_path)
    return df.where(F.col("detected_at") > F.lit(now - ttl_sec))


def compact_alerts(
    spark: SparkSession, table_path: str, *, now: int, keep_sec: int
) -> int:
    """Rewrite the alerts table keeping only the last `keep_sec`.

    The TTL anti-join only ever reads recent rows, but the append-only
    table grows forever; periodic compaction bounds it. Writes to a
    sibling tmp dir then swaps via two Hadoop-FS renames.

    Concurrency contract: the swap is NOT atomic — between the two
    renames the table path briefly does not exist, and a concurrent
    `recent_alerts` would see a missing table and run its cycle with
    TTL dedup disabled (duplicate alerts for that cycle). Run
    compaction from the same single-threaded scheduler as the
    detection cycles (the reference's loop is likewise serial,
    hha.py:315-327), between cycles. A crash between the renames
    leaves the data intact at `<table>__old`; the next compaction (or
    a manual rename) recovers it. Returns the retained row count (0
    when the table does not exist yet; any other failure raises).
    """
    if not fs.exists(spark, table_path):
        return 0
    df = spark.read.schema(ALERTS_SCHEMA).parquet(table_path)
    kept = df.where(F.col("detected_at") > F.lit(now - keep_sec))
    tmp = f"{table_path}__compact_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    n = spark.read.schema(ALERTS_SCHEMA).parquet(tmp).count()
    old = f"{table_path}__old"
    fs.delete(spark, old)
    fs.rename(spark, table_path, old)
    fs.rename(spark, tmp, table_path)
    fs.delete(spark, old)
    return n


def collect_rules(alerts: DataFrame) -> list[dict]:
    """Driver-side rule materialization (the reference's observable
    output is a log line per alert, hha.py:240-241)."""
    out = []
    for row in alerts.collect():
        out.append(
            {
                "num_protocol": row.num_protocol,
                "type_proto": row.type_proto,
                "sum_val": row.sum_val,
                "dst_ip": str(ipaddress.IPv4Address(int(row.dst_ip))),
                "scope": row.scope,
            }
        )
    return out


def alerts_frame(spark: SparkSession, rules: list[dict]) -> DataFrame:
    """`collect_rules` output back as alert rows for `append_alerts`
    (which stamps `detected_at`): a driver-local Arrow frame (no Spark
    job to build, a JVM-side scan to write), in one partition so an
    append adds one file for `recent_alerts` to list, not one per
    core."""
    return arrow_rows_frame(
        spark,
        [
            (r["num_protocol"], r["type_proto"], r["sum_val"],
             int(ipaddress.IPv4Address(r["dst_ip"])), r["scope"])
            for r in rules
        ],
        _RULE_SCHEMA,
    ).coalesce(1)
