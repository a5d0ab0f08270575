"""SparkSession builder tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same config block
is what we would ship for a multi-executor cluster (AQE on, adaptive
coalescing/skew-join, Arrow transfers) — only master/memory change.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _make_type_verifier


def get_spark(
    app_name: str = "surrealdb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults are sized for local[N] testing; on a real cluster the same
    session config applies with master/memory supplied by the submitter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # local mode: ~cores; a 1000-executor cluster would raise this (AQE
        # coalesces down, so err on the high side there).
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        # pyspark >= 4.1 infers tz-naive parquet timestamps as TIMESTAMP_NTZ,
        # which breaks unix_millis()/watermarks; the engine's timestamp type
        # is UTC-instant (values.py), so keep parquet reads on TIMESTAMP.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call with call-site
        # origin capture for richer error messages: getActiveSession +
        # conf.get + PySparkCurrentOrigin.set/clear = 3-4 extra py4j round
        # trips and an inspect-stack walk PER CALL (pyspark/errors/utils.py
        # _with_origin — "debugging options to reduce performance
        # slowdown", default on).  The compiler/suite builders make tens of
        # thousands of Column calls per query build; r13 A/B measured the
        # surql child builds ~2x faster with it off.  Errors still raise
        # with full Python tracebacks — only the JVM-side origin tag of the
        # failing expression is lost.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Scalar @udf lanes cross the Python boundary as Arrow batches, not
        # pickled rows (guide §4.3; the pipeline's heavy lanes are already
        # pandas_udf/mapInPandas — this covers the long tail).
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # NOTE on scan splits (r12 finding): the testdata parquet files are
        # single-row-group, so a scan can never parallelize below 1 task
        # per file regardless of openCostInBytes/maxPartitionBytes — extra
        # splits are phantom tasks (footer open, zero rows, ~30 ms each).
        # Lowering openCostInBytes was measured a net LOSS here; splits are
        # left at defaults and CPU-heavy map work above tiny single-group
        # inputs is parallelized explicitly at the operator level instead.
        # Let the planner pick shuffled-hash over sort-merge when a side's
        # per-partition build fits (guide §3.1/§9): skips both sorts; AQE
        # skew-split still applies.  Sort-merge remains the fallback for
        # oversized builds via the size conditions.  Env-parameterised so
        # the strategy can be A/B'd at larger scale without a code edit
        # (r13: verified at the 10x-scaled layout, see OPTIMIZATION_r13.md).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Iterable[Any],
                schema: StructType | str | None = None) -> DataFrame:
    """A DataFrame over driver-side rows: the only way a Python list becomes
    a frame in this engine.

    Same schema inference, verification and DDL parsing as
    ``spark.createDataFrame(rows, schema)``, but the parallelized pickles
    are unpickled in the JVM (``SerDeUtil.pythonToJava``).
    ``createDataFrame`` instead re-serializes them through a Python ``map``
    (``parallelize``'s batch serializer differs from the one ``_pickled``
    asks for), so every job over the frame starts one Python worker task
    per partition."""
    rows = list(rows)
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if isinstance(schema, StructType):
        verify = _make_type_verifier(schema)
        for r in rows:
            verify(r)
    rdd, struct = spark._createFromLocal(rows, schema)
    jvm = spark._jvm
    jrdd = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(rdd._jrdd, True))
    df = DataFrame(spark._jsparkSession.applySchemaToPythonRDD(
        jrdd.rdd(), struct.json()), spark)
    df._schema = struct
    return df
