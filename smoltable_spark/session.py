"""SparkSession factory tuned for the engine, and the one materialization
policy.

Local mode is a test stand-in for a multi-executor cluster; every config
here is chosen to behave sanely at both scales:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting, so a
  plan written at sf0.01 still behaves at 100 TB.
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from the 2000-partition default.
- Arrow enabled for the few pandas-UDF paths (similarity / multimodal).

Materialization. An intermediate that several consumers read is computed
once through :func:`materialize`; nothing else in the package calls
``localCheckpoint``, ``checkpoint``, ``persist``, ``cache`` or
``unpersist``. The caller names the intermediate's scale:

- ``"corpus"``: the row count grows with an input table or a store
  snapshot (per-doc signatures, graph edges, a folded store). It takes a
  reliable, eager ``checkpoint``: the blocks live in the context's
  checkpoint dir, so losing an executor re-reads them instead of failing
  the job.
- ``"bounded"``: a constant, a micro-batch, a vocabulary, a centroid or
  partition count, or a caller-bounded key set caps it. It takes
  ``localCheckpoint`` (executor-local blocks), eager by default; a lazy
  one materializes inside the next action's own job.

Both forms truncate lineage, so a checkpointed frame re-plans as an RDD
scan. The checkpoint dir is set on first use to a scratch dir (see
``queries_util.scratch_dir``; ``$SPARK_GRAFT_SCRATCH`` moves it) unless the
context already has one, so a deployment points it at shared storage by
calling ``setCheckpointDir`` first. Checkpoint files of garbage-collected
frames are deleted by ``spark.cleaner.referenceTracking.cleanCheckpoints``,
and local blocks by the context cleaner, so no caller unpersists. Spark
leaves the rest behind when the context stops; a scratch checkpoint dir
goes with the process's scratch root at exit (a dir the caller set is
never touched).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from smoltable_spark.queries_util import scratch_dir

def get_spark(
    app_name: str = "smoltable_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame, scale: str, *, eager: bool = True) -> DataFrame:
    """Compute ``df`` once for several consumers under the module's
    policy: ``scale="bounded"`` is a ``localCheckpoint`` (lazy when
    ``eager=False``), ``scale="corpus"`` an eager reliable
    ``checkpoint``."""
    if scale == "bounded":
        return df.localCheckpoint(eager=eager)
    if scale != "corpus":
        raise ValueError(f"scale must be 'bounded' or 'corpus', got {scale!r}")
    if not eager:
        # a lazy reliable checkpoint recomputes its input in a second job
        raise ValueError("corpus-scale materialization is always eager")
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(scratch_dir("smoltable_ckpt_"))
    return df.checkpoint(eager=True)
