"""Checkpoint / resume with per-partition lineage + row-count metrics
(north rule: "every partition emits lineage + row-count metrics to a
checkpoint table so a killed job resumes at tile granularity").

Design (simplest correct, SURVEY.md §7.2):
- outputs are IDEMPOTENT and KEYED (tile keys / cell / doc_id ranges);
- a job runs in key-granular units. ``done_keys`` reads the ledger once
  per call, with the explicit ``CHECKPOINT_SCHEMA`` (no inference job),
  and collects the stage's committed keys to the driver: the ledger holds
  one row per work unit, the same bound the metrics collect relies on. A
  missing ledger means nothing is done; any other read error propagates,
  so an unreadable ledger never turns into "redo everything";
- ``resume_filter`` drops the done keys with one InSet predicate (the
  restart reads only checkpoint keys, never the old output data), and
  filters nothing when no key is done;
- ``checkpointed_write`` commits the data first and, only after that
  commit succeeds, appends one ledger row per key with its row count and
  partition lineage, as one parquet file. A kill between the two writes
  re-runs those keys; the per-write dynamic partition overwrite makes the
  re-run overwrite, not duplicate. No session conf is changed.

No custom commit protocol: Spark's file committer gives atomic task
commits; the checkpoint table is the unit-of-work ledger above it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trefoil_spark.session import local_frame

CHECKPOINT_SCHEMA = (
    "stage string, key string, row_count bigint, n_partitions int, committed_at double"
)


def _key_col(key_cols: list[str]):
    return F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols])


def _path_exists(spark: SparkSession, path: str) -> bool:
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(jpath)


def done_keys(spark: SparkSession, checkpoint_dir: str, stage: str) -> list[str]:
    """Sorted keys of ``stage`` committed in the ledger (one Spark job, none
    when the ledger does not exist yet)."""
    if not _path_exists(spark, checkpoint_dir):
        return []
    rows = (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .parquet(checkpoint_dir)
        .filter(F.col("stage") == stage)
        .select("key")
        .collect()
    )
    return sorted({r["key"] for r in rows})


def resume_filter(df: DataFrame, keys: list[str], key_cols: list[str]) -> DataFrame:
    """Drop the work units whose key is in ``keys``.

    One ``NOT IN`` predicate, which the optimizer turns into a hash InSet.
    It adds no exchange to the persisted plan, so no extra Spark job runs.
    The literal list is parsed from one SQL string: ``Column.isin`` makes
    two py4j calls per key. Keys are compared hex-encoded, so any key text
    is a valid literal under any parser setting.
    """
    if not keys:
        return df
    listing = ", ".join(f"'{k.encode().hex().upper()}'" for k in keys)
    keyed = df.withColumn("_cp_key", F.hex(_key_col(key_cols)))
    return keyed.filter(F.expr(f"_cp_key NOT IN ({listing})")).drop("_cp_key")


def _append_ledger(spark: SparkSession, checkpoint_dir: str, rows: list[tuple]) -> None:
    local_frame(spark, rows, CHECKPOINT_SCHEMA).coalesce(1).write.mode("append").parquet(
        checkpoint_dir
    )


def checkpointed_write(
    df: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    stage: str,
    key_cols: list[str],
) -> dict:
    """Write remaining work units + append their checkpoint ledger rows.

    Returns {written_rows, written_keys, skipped_keys}; ``skipped_keys``
    counts the stage's keys the ledger had committed before this call.
    The data write is partitioned by the key columns with dynamic
    partition overwrite, so a replay of a half-committed unit overwrites
    instead of duplicating.
    """
    spark = df.sparkSession
    done = done_keys(spark, checkpoint_dir, stage)
    # persist: the write and the ledger metrics are two actions — with a
    # nondeterministic source, recomputing `todo` for the metrics could
    # commit ledger counts that diverge from the parquet actually written
    todo = resume_filter(df, done, key_cols).persist()
    try:
        (
            todo.write.partitionBy(*key_cols)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )
        # lineage: per-key row counts + how many task partitions contributed
        metrics = (
            todo.withColumn("_pid", F.spark_partition_id())
            .groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                F.size(F.collect_set("_pid")).alias("n_partitions"),
            )
            .select(_key_col(key_cols).alias("key"), "row_count", "n_partitions")
            .collect()  # small: one row per work unit
        )
    finally:
        todo.unpersist()
    committed_at = time.time()
    rows = [(stage, r["key"], r["row_count"], r["n_partitions"], committed_at) for r in metrics]
    if rows:
        _append_ledger(spark, checkpoint_dir, rows)
    return {
        "written_rows": sum(r["row_count"] for r in metrics),
        "written_keys": len(rows),
        "skipped_keys": len(done),
    }
