"""Start and stop the benchmark's Spark session and the JVM behind it."""

from __future__ import annotations

import os

from feray_spark.session import get_spark

import spec


def start(app_name: str, tmp_dir: str):
    """A session sized by ``spec.SESSION`` whose scratch files (Spark's
    local dirs, the JVM's and Python's temp files) stay in ``tmp_dir``,
    and whose JVMs write no perf-data file under /tmp."""
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp_dir,
        "SPARK_LOCAL_DIRS": tmp_dir,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    })
    return get_spark(app_name=app_name, **spec.SESSION)


def warm(spark, python_workers: bool) -> None:
    """Bring the session to the warm state ``setup_s`` promises: a
    shuffle aggregation has run and, for a workload that runs Python
    code on the executors, a Python worker with pyarrow imported waits
    in every task slot (starting them takes ~3 s). Touches no workload
    table or catalog entry, so the first pass still pays every
    workload-specific cost."""

    def passthrough(batches):
        import pyarrow.compute  # noqa: F401

        yield from batches

    slots = spark.sparkContext.defaultParallelism
    df = spark.range(0, 300_000, 1, slots)
    df.groupBy((df.id % 97).alias("k")).count().collect()
    if python_workers:
        df.mapInArrow(passthrough, df.schema).write.format("noop").mode("overwrite").save()


def stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
