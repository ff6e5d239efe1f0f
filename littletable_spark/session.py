"""SparkSession helper tuned for this engine.

Local testing runs on ``local[N]``; the configuration below is chosen so
the same code scales to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from an initial high partition count.
- Arrow enabled so pandas-UDF paths and ``toPandas`` are vectorized.
- UTC session timezone so timestamp semantics are stable and match
  columnar engines (parquet instants, DuckDB naive-UTC).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def _runtime_sql_confs(cpus: int) -> dict[str, str]:
    """The SQL confs this engine depends on — all runtime-settable, so
    they can be applied both at builder time and onto a session someone
    else created (a driver harness handing us its own SparkSession must
    still get the load-bearing Arrow batching fix below)."""
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # EXACTLY Int.MaxValue: BatchedPythonArrowInput.underBatchSizeLimit
        # short-circuits on == INT_MAX and skips its per-row
        # ArrowWriter.sizeInBytes() walk (verified in the 4.1.2
        # bytecode). With the default 64m cap that walk degrades ~6x
        # session-wide once any mapInPandas input has carried an array
        # column (root-caused round 7 — BASELINE.md "Arrow-feed
        # pollution"), taxing every later Arrow pass. This restores
        # Spark 3.x batching semantics: batches are bounded by
        # maxRecordsPerBatch (10k rows) only — blob-consuming operators
        # bound their INPUT PARTITIONS instead of this conf (see
        # operators/multimodal._bounded_blob_input) so fat rows never
        # produce multi-GB batches.
        "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647b",
    }


# sessions already configured by apply_runtime_confs. Weak: a stopped,
# collected session leaves, and an id() reused by a newer session can
# never make it look configured.
_APPLIED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()

# one slice per this many rows for driver-built frames (small_df); tiny
# model/config frames stay at ONE task while a genuinely large
# driver-side table still fans out across the cluster
_SMALL_DF_ROWS_PER_SLICE = 20_000


def small_df(spark: SparkSession, rows, schema):
    """Driver-built DataFrame with a data-derived slice count.

    ``createDataFrame`` on local data parallelizes into
    ``defaultParallelism`` slices, so the few-row model/config frames the
    operators build (stats output, search word groups, BPE merge tables,
    IVF model rows, classifier weights, …) schedule one near-empty task
    PER CORE in every consuming job — measured ~0.2 s of pure scheduling
    overhead per job at local[32], and worse on a real cluster. Deriving
    the slice count from the row count keeps a tiny frame at one task;
    `coalesce(1)` is NOT equivalent (a coalesced parallelize collection
    stalled ~5 s per action on 4.1.2 — measured, root cause scheduler-
    side, so we size the slices at creation instead).

    ``schema`` must be explicit (StructType or DDL string): the RDD
    route would otherwise sample-infer, which diverges from local-data
    inference. Rows may be tuples, dicts or Row objects.
    """
    data = rows if isinstance(rows, list) else list(rows)
    n = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-len(data) // _SMALL_DF_ROWS_PER_SLICE)),
    )
    return spark.createDataFrame(spark.sparkContext.parallelize(data, n), schema)


def apply_runtime_confs(spark: SparkSession, cpus: int | None = None) -> SparkSession:
    """Idempotently apply the engine's runtime SQL confs to a session
    created by someone else (e.g. a test harness that hands us its own
    SparkSession). Memoized per session object so hot paths can call it
    freely."""
    if spark in _APPLIED:
        return spark
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    for k, v in _runtime_sql_confs(cpus).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # a conf the host locked down; the rest still apply
    _APPLIED.add(spark)
    return spark


def get_spark(app_name: str = "littletable_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    confs = _runtime_sql_confs(cpus)
    active = SparkSession.getActiveSession()
    if active is not None:
        # apply the runtime-settable confs to the pre-existing session
        # too — previously this returned it untouched, which silently
        # dropped the Arrow maxBytesPerBatch fix when a harness created
        # the session first (VERDICT r7 #2).
        _APPLIED.discard(active)
        return apply_runtime_confs(active, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
