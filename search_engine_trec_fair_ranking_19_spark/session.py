"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs for the duration of a block, then restore.

    Used to scope knobs that help one pipeline but tax the rest of the
    session (e.g. the scan-split floor build_index needs for tokenizer
    parallelism). Restores the previous value, or unsets if none was set."""
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in saved.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)


def sql_double(v, sql_t: str = "DOUBLE") -> str:
    """Bit-exact SQL literal of a float, as ``sql_t`` (DOUBLE or FLOAT)."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        name = "NaN" if f != f else ("Infinity" if f > 0 else "-Infinity")
        return f"CAST('{name}' AS {sql_t})"
    # repr() is the shortest string that parses back to exactly f; the
    # decimal literal → DOUBLE cast is correctly rounded, so the value
    # survives bit-exactly (rank-critical for score tie-breaks)
    return f"CAST({f!r} AS {sql_t})"


def local_rows_df(spark: SparkSession, rows, schema):
    """Driver-built small DataFrame (≤ a few thousand rows) as an
    Arrow-backed LocalRelation: collecting it runs no Spark job and no
    Python worker, and its RDD has at most one partition per row. A None in
    a non-nullable field raises. Only for driver-sized data — anything that
    should fan out (fixture corpora, media tables) repartitions explicitly
    instead."""
    struct = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def _default_master(cpus: str) -> str:
    """Master to use when the caller passed none.

    Under spark-submit, PythonRunner pre-launches the gateway JVM and
    exports PYSPARK_GATEWAY_PORT (pyspark/java_gateway.py reads it; nothing
    sets it on a self-launched gateway). spark-submit's --master is already
    in that JVM's conf, so return "" (set no master) — setting
    builder.master here would silently override the cluster with local
    mode. Anywhere else: local[$SPARK_GRAFT_CPUS], the driver contract."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return ""
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "themis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the engine.

    Local defaults come from ``SPARK_GRAFT_CPUS`` (driver contract). On a real
    cluster, call with ``master=None`` and let spark-submit own the master.
    AQE (incl. skew-join handling) and Arrow are always on — the engine's hot
    paths are Arrow-batched pandas UDFs and skew-prone term aggregations.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = _default_master(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 32)
    # execution memory scales with concurrent tasks: a fixed small heap makes
    # N threads SLOWER than N/4 (per-task Tungsten memory → spills). ~1.5 GiB
    # per local core, floor 8, cap 64 (the box has 128)
    if master.startswith("local["):
        inner = master[6:-1]
        n_threads = int(inner) if inner.isdigit() else (os.cpu_count() or 8)
    else:
        n_threads = 8  # cluster mode: executor memory is spark-submit's job
    default_mem = f"{min(max(8, round(n_threads * 1.5)), 64)}g"
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows entering UDFs can be FAT (posting blocks carry ~4096-entry
        # arrays ≈ 64 KB/row): 10k-row batches would be ~GB-sized per worker
        # × 32 workers. 1024 keeps worst-case batches ~64 MB while thin-row
        # UDFs (tokenizer) still amortize fine.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # NOTE: no session-wide spark.sql.files.minPartitionNum — a scan-split
        # floor helps exactly one path (the Python tokenizer scan in
        # build_index) and taxes every other small scan with ~3x-per-core task
        # launches (measured 3-8x regressions on sub-second bench queries in
        # round 2). build_index scopes the floor to itself via scoped_conf.
        # dimension tables here (vocabulary, docid maps at bench SFs) are
        # tens of MB — the 10MB default forces them into sort-merge joins.
        # 64m is still executor-heap-safe; AQE re-checks actual sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
