"""SparkSession construction with the engine's required configs.

Configs chosen for scale-out (SURVEY.md §4): AQE on (runtime coalesce /
skew-join split replaces manual shuffle tuning at 100 TB), Arrow for any
Python-boundary transfer, UTC session time so timestamp semantics match
the DuckDB oracle, and the nanos-as-long legacy flag required to read
``events.parquet`` (SURVEY.md §1.4 — Spark 4.x otherwise throws
``PARQUET_TYPE_ILLEGAL`` on INT64 TIMESTAMP(NANOS)).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory holding the ``etl_data_pipeline_spark`` package.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Runtime-settable confs every engine session needs. Applied both at
#: build time (get_spark) and defensively at use time (ensure_engine_confs)
#: because the driver may hand us a session we didn't build.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let AQE re-plan THROUGH persisted (InMemoryRelation) subtrees —
    # materialize.py's persist points otherwise pin their consumers to
    # estimate-based plans.  Interleaved cold A/B on minhash_lsh_pairs
    # at sf0.1 (2026-08-14): 6.4/6.6 s on vs 7.7/9.0 s off.  Cache
    # correctness is unaffected (the conf only widens which cached
    # plans AQE may rewrite around).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply RUNTIME_CONFS to an externally-built session (best effort).

    The driver contract (``__spark_entry__.py``) passes us a SparkSession
    it built; these confs are all runtime-settable SQL confs, so we set
    them here rather than requiring a rebuild.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on odd builds
            pass
    _apply_checkpoint_dir(spark)
    _apply_worker_pythonpath(spark)
    return spark


def _apply_worker_pythonpath(spark: SparkSession) -> None:
    """Put the repo root first on the Python workers' PYTHONPATH.

    Workers resolve module-level kernels by import, so without this a
    session launched from any directory but the repo root fails every
    Arrow/pandas kernel with ``ModuleNotFoundError``.  Every Python
    function PySpark builds afterwards carries ``sc.environment`` to
    its workers — in local mode and on separate executor JVMs alike,
    and for sessions the caller built too.  The caller's PYTHONPATH (an
    explicit ``spark.executorEnv.PYTHONPATH``, else the driver's own)
    follows the repo root, so its other imports keep resolving.
    Idempotent: a second call leaves the value unchanged.
    """
    env = spark.sparkContext.environment
    caller = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    parts = [p for p in caller.split(os.pathsep) if p and p != _REPO_ROOT]
    env["PYTHONPATH"] = os.pathsep.join([_REPO_ROOT, *parts])


def _apply_checkpoint_dir(spark: SparkSession) -> None:
    """Configure reliable checkpointing from ``$SPARK_GRAFT_CHECKPOINT_DIR``.

    materialize.cut_lineage() upgrades the iterative-loop truncation
    points from localCheckpoint to RELIABLE checkpoint() whenever a
    checkpoint dir is set — this is the deployment hook that makes the
    graph loops survive executor loss on a real cluster (point it at
    HDFS/S3 there; any shared path works locally).  Unset = local-mode
    fallback, no behavior change.
    """
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckpt)


def group_buckets(spark: SparkSession, rows: int, rows_per_bucket: int) -> int:
    """Group count B for a bucketed grouped kernel (``groupBy(pmod(key,
    B)).applyInPandas``): max(64, 2 x the default parallelism, ceil(rows /
    rows_per_bucket)).

    Grouped-Python cost is paid per GROUP (one Arrow round trip and its
    pandas frames), so the kernels loop many keys per bucket; B grows
    with the cluster (every core gets work) and with the data (a
    bucket's expected frame stays near ``rows_per_bucket`` rows).  The
    kernels never pair rows across keys, so results do not depend on B.
    """
    par = spark.sparkContext.defaultParallelism
    return max(64, 2 * par, -(-rows // rows_per_bucket))


def get_spark(
    app_name: str = "etl-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) the engine SparkSession.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER``, then
    ``local[$SPARK_GRAFT_CPUS]`` (test rig); on a real cluster pass
    ``None`` via spark-submit and leave master unset in the builder.
    The env override exists so timing harnesses (bench.py under
    ``local-cluster[2,4,4096]``, VERDICT r9 stretch item 8) can switch
    regimes without a code path of their own.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_engine_confs(spark)
