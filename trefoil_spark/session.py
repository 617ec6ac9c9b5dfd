"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
Iceberg/Parquet) but parameterized so tests/bench run on local[N].

Key choices (rationale in SURVEY.md §4):
- AQE on, including skew-join handling: hot cells (dense urban polygons,
  popular domains) are re-split at runtime.
- Arrow enabled for every pandas UDF boundary; batch size sized so one
  Arrow batch of 256x256 float32 tiles (~256 KiB each) stays well under
  executor memory.
- shuffle partitions default to cores in local mode; on a real cluster this
  should be ~2-3x total cores (set via spark-submit conf, not code).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "trefoil_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # tiles are ~256 KiB rows; keep scan partitions near 128 MB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # r8: per-call Python stack capture for error enrichment costs one
        # inspect.stack walk + one py4j round trip on EVERY DataFrame/Column
        # API call (pyspark.errors.utils._with_origin) — measured ~0.3-0.5 s
        # of driver-side plan-construction time per complex query. Scale-
        # neutral (pure driver overhead), documented PySpark perf knob;
        # re-enable via env when debugging an error's user call site.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str):
    """DataFrame of driver-side ``rows`` (tuples) with the DDL ``schema``,
    uploaded as one Arrow table and built JVM-side.

    ``spark.createDataFrame(list)`` goes through a Python-worker RDD: its
    first action boots Python tasks just to deserialize a handful of
    rows. An Arrow table is shipped to the JVM directly.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def session_memo(spark: SparkSession, key, build):
    """``build()``, computed once per session object and ``key``.

    The memo is held on the ``spark`` object itself. A second session
    (``spark.newSession()``) gets its own values, built under its own
    conf, and two keys never evict each other. An entry is freed when its
    session object is; nothing is dropped while the session lives, so no
    persisted handle is lost while still in use.
    """
    memo = vars(spark).setdefault("_trefoil_memo", {})
    if key not in memo:
        memo[key] = build()
    return memo[key]
