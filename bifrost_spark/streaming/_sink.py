"""Shared replay-idempotent micro-batch sink (drift monitor, fuzzy dedup,
the output-carried monitors) and its Hadoop FileSystem listing.

Output is PARTITIONED by batch_id and each emit dynamically overwrites
ONLY its own partition, so a crash between sink write and checkpoint
commit re-runs the batch into the same batch_id=N directory instead of
appending a duplicate (exactly-once at the sink, no reader-side dedup).

Idempotence depends on DYNAMIC partition overwrite.  The per-write
``partitionOverwriteMode`` option is authoritative on Spark ≥ 2.4's v1
file source, but some builds/confs resolve only the SESSION conf — so the
session conf is set to dynamic for the duration of the write and RESTORED
afterwards (a leaked dynamic default would silently change unrelated
static-overwrite writes elsewhere in the session — review finding; the
previous set-then-read "assert" could never fire because it read back the
value it had just set).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MODE_KEY = "spark.sql.sources.partitionOverwriteMode"

# Two concurrent streaming queries sharing one SparkSession (e.g. drift
# monitor + fuzzy dedup) run their foreachBatch emits on different threads;
# unguarded set-then-restore could restore each other's value or leak
# 'dynamic' into an unrelated static overwrite mid-write (ADVICE r6).  The
# per-write option stays authoritative on the v1 file source — the session
# conf is only the fallback — but the fallback must not race either.
_MODE_LOCK = threading.Lock()


def write_batch_partition(df: DataFrame, batch_id: int, output_path: str) -> None:
    """Emit one micro-batch result into ``output_path/batch_id=N`` with
    dynamic-partition overwrite, leaving the session conf as it was."""
    spark = df.sparkSession
    with _MODE_LOCK:
        try:
            prev = spark.conf.get(_MODE_KEY)
        except Exception:
            prev = None
        spark.conf.set(_MODE_KEY, "dynamic")
        try:
            (
                df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_path)
            )
        finally:
            if prev is None:
                spark.conf.unset(_MODE_KEY)
            else:
                spark.conf.set(_MODE_KEY, prev)


def hadoop_fs(spark, path: str):
    """(Hadoop FileSystem for ``path`` under the session's Hadoop conf, the
    JVM view) — one spelling for every streaming module that lists, renames
    or deletes output objects."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jvm


def batch_partitions(spark, root: str) -> dict[int, str]:
    """``{batch_id: partition path}`` of the ``batch_id=N`` directories
    under ``root``; empty when ``root`` does not exist.

    Names starting with ``_`` or ``.`` (``_SUCCESS``, staging dirs) are
    skipped, as Spark's file reader skips them.  Any other entry raises:
    a root-level stray file or foreign directory means the layout is not
    this sink's, and treating it as "no prior batches" would silently
    reset whatever state the caller recovers from the partitions."""
    fs, jvm = hadoop_fs(spark, root)
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(jroot):
        return {}
    parts = {}
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if not (st.isDirectory() and name.startswith("batch_id=")):
            raise ValueError(f"{root}: {name!r} is not a batch_id= partition")
        parts[int(name[len("batch_id="):])] = st.getPath().toString()
    return parts
