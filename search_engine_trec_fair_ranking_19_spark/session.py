"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
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


# SQL literal type per atomic field type eligible for the LocalRelation
# fast path (strings excluded: escaping under configurable parser modes is
# where correctness bugs live — they take the parallelize fallback)
_VALUES_SQL_TYPE = {
    "LongType": "BIGINT",
    "IntegerType": "INT",
    "ShortType": "SMALLINT",
    "ByteType": "TINYINT",
    "DoubleType": "DOUBLE",
    "FloatType": "FLOAT",
    "BooleanType": "BOOLEAN",
}


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


def _values_cell(v, sql_t: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_t})"
    if sql_t == "BOOLEAN":
        return "TRUE" if v else "FALSE"
    if sql_t in ("DOUBLE", "FLOAT"):
        return sql_double(v, sql_t)
    return f"CAST({int(v)} AS {sql_t})"


def local_rows_df(spark: SparkSession, rows, schema):
    """Driver-built small DataFrame (≤ a few thousand rows), cheapest shape.

    Fast path (all-numeric/boolean schemas, ≤2000 rows): a SQL ``VALUES``
    LocalRelation. Collecting one is an ``executeCollect`` on
    LocalTableScan — ZERO Spark jobs, no pickle→JVM round-trip. Measured:
    build+collect of a 10-row top-k frame is ~30 ms vs ~220 ms (and one
    whole job) for the parallelize shape — that job used to be 1 of the 3
    jobs of every single bm25 query.

    Fallback (strings/arrays/larger data): ``parallelize(rows, 1)``.
    ``spark.createDataFrame(list)`` would split into defaultParallelism
    slices, so every downstream action over a 20-row frame schedules
    ~n_cores near-empty tasks, and a 1-row table write emits ~n_cores files
    (all but one empty). One slice → one task / one file. Only for
    driver-sized data — anything that should fan out (fixture corpora,
    media tables) repartitions explicitly instead."""
    struct = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    if isinstance(struct, T.StructType) and len(rows) <= 2000:
        sql_types = [
            _VALUES_SQL_TYPE.get(type(f.dataType).__name__)
            for f in struct.fields
        ]
        if all(t is not None for t in sql_types):
            names = ", ".join(f.name for f in struct.fields)
            if rows:
                body = ", ".join(
                    "(%s)"
                    % ", ".join(
                        _values_cell(v, t) for v, t in zip(r, sql_types)
                    )
                    for r in rows
                )
                tail = ""
            else:  # VALUES needs ≥1 row; LIMIT 0 folds to an empty relation
                body = "(%s)" % ", ".join(
                    f"CAST(NULL AS {t})" for t in sql_types
                )
                tail = " LIMIT 0"
            return spark.sql(
                f"SELECT * FROM VALUES {body} AS __local__({names}){tail}"
            )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema
    )


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
