"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are chosen for the 100 TB design point and are safe locally:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
    per BASELINE.json north_star ("AQE skew-join handling for hot codecs").
  - Arrow on for the pandas surfaces that remain (fixture generation,
    the Misra-Gries partition summaries, similarity's pandas UDFs).
  - UTC session timezone so timestamp semantics are deterministic and
    engine-independent (oracle comparisons vs DuckDB).
"""

from __future__ import annotations

import os
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # splitting. At 100 TB hot codec values dominate groupBy/join keys;
    # AQE splits oversized post-shuffle partitions without a manual salt
    # on the join path (we still salt explicitly on the agg path, see
    # operators/uniqueness.py).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF / mapInPandas / applyInPandas batch transfer.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    # Deterministic timestamp rendering for oracle cross-checks.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: 128 MiB splits — at 100 TB this yields ~800k input
    # partitions, each fitting comfortably in executor memory.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Dynamic partition overwrite = the parquet stand-in for Iceberg
    # overwritePartitions(); gives idempotent per-partition re-commits
    # (plans/checkpoint.py).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # ParallelGC instead of the Java-17 default G1: measured on this
    # host, G1's concurrent machinery made warm validation runs 2-4x
    # slower and wildly variable at >=16 task threads (17-54s for a job
    # ParallelGC finishes in a stable ~6s). Throughput-oriented batch
    # jobs with short-lived humongous Arrow buffers are ParallelGC's
    # sweet spot; pause times are irrelevant here.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -XX:ParallelGCThreads=8",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC -XX:ParallelGCThreads=8",
}


def get_spark(
    app_name: str = "mds-provider-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``parallelism`` sets ``local[N]``; default reads $SPARK_GRAFT_CPUS
    (driver contract) falling back to all cores. On a real cluster the
    master comes from spark-submit and this arg is ignored by Spark.
    """
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # local heuristic: 2x slots keeps all cores busy post-shuffle
        # without tiny-partition overhead at test scale.
        shuffle_partitions = max(2 * parallelism, 8)

    # Heap must scale with concurrent task slots: each Arrow-producing
    # task holds multi-MB batch buffers (binary audio columns), and an
    # undersized heap turns the Python-transfer stage into a GC storm
    # (measured: binary-column mapInPandas at local[32] was 3x slower on
    # 8g than on 32g). On a real cluster this is executor memory sizing.
    default_mem = f"{min(max(8, parallelism), 64)}g"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_schema(schema: StructType | str):
    """The ``pyarrow.Schema`` Spark uses for ``schema`` (a StructType or
    a DDL string). Call it on the driver: parsing DDL needs the JVM."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    return to_arrow_schema(schema)


def arrow_batch(rows: list[tuple], arrow):
    """Rows (tuples in ``arrow`` field order) as one ``pyarrow.RecordBatch``
    typed by the ``arrow_schema`` result ``arrow``; zero rows give an
    empty batch of the same schema. Needs no Spark, so it also runs on
    workers (``map_rows`` and the PCM check emit their batches through
    it)."""
    import pyarrow as pa

    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )


def map_rows(df: DataFrame, cols: list, per_row: Callable[..., Iterable[tuple]],
             schema: StructType | str) -> DataFrame:
    """The one per-row Python stage: ``df.select(*cols)`` crosses the
    Arrow pipe through ``mapInArrow``, and ``per_row(*row)`` gets each
    row's values (Python objects, in ``cols`` order) and returns the
    row's output tuples in ``schema`` order — none to skip the row,
    several to fan it out. Each input batch gives one output batch,
    typed by ``arrow_batch``, so a value ``schema`` cannot hold fails the
    task instead of being coerced; cast in ``cols`` when a conversion is
    wanted. Every per-row stage of the library runs here except the PCM
    check (``audio._pcm_frame``), whose files reader has no DataFrame;
    ``tests/test_audio.py`` guards that no pandas batch loop comes back."""
    arrow = arrow_schema(schema)

    def run(batches: Iterator) -> Iterator:
        for rb in batches:
            out = []
            for row in zip(*(c.to_pylist() for c in rb.columns)):
                out.extend(per_row(*row))
            yield arrow_batch(out, arrow)

    return df.select(*cols).mapInArrow(run, schema)


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A DataFrame from driver-side rows (tuples in ``schema`` order),
    built in the JVM: the rows become a ``pyarrow.Table`` typed by
    ``arrow_schema(schema)``, which ``createDataFrame`` ships as Arrow
    batches. ``createDataFrame(<list>)`` would instead make a Python RDD
    and run Python-worker tasks to convert it. pandas is skipped on
    purpose: it would turn ``None`` into ``NaN``. ``schema`` is a
    ``StructType`` or a DDL string. Every library frame built from
    driver-side rows comes from here (``tests/test_local_frame.py``
    guards that)."""
    import pyarrow as pa

    table = pa.Table.from_batches([arrow_batch(rows, arrow_schema(schema))])
    return spark.createDataFrame(table, schema)
