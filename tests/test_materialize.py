"""materialize()/cut_lineage() — the cluster-safe materialization
points.

The contract under test:
  - materialize() persists at MEMORY_AND_DISK: LINEAGE KEPT
    (recoverable after executor loss at scale), lazy at call time;
  - cut_lineage() truncates lineage (loop bodies need it, persist does
    not provide it) and upgrades to RELIABLE checkpoint() whenever a
    checkpoint dir is configured — the cluster deployment path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel

from etl_data_pipeline_spark.materialize import cut_lineage, materialize


def test_materialize_defaults_to_persist_with_lineage(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out = materialize(df)
    assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
    # lineage kept: the analyzed plan still contains the Range source
    # (a checkpoint would have replaced it with a scan of materialized
    # blocks), so lost blocks are recomputable on a cluster.
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Range" in plan
    assert out.count() == 100
    out.unpersist()


def test_cut_lineage_truncates(spark):
    df = spark.range(10).withColumn("y", F.col("id") * 3)
    out = cut_lineage(df)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Range" not in plan
    assert out.count() == 10


def test_cut_lineage_uses_reliable_checkpoint_when_dir_set(
    spark, tmp_path, monkeypatch
):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # engine sessions don't set one
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.range(25)
        out = cut_lineage(df)
        assert out.count() == 25
        # reliable checkpoint writes to the configured dir
        ckpt_files = list((tmp_path / "ckpt").rglob("*"))
        assert ckpt_files, "reliable checkpoint() did not write to the dir"
    finally:
        # pyspark has no unset API; clear via the JVM setter so other
        # tests see a configured-dir session only within this test
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_checkpoint_dir_env_hook(spark, tmp_path, monkeypatch):
    """$SPARK_GRAFT_CHECKPOINT_DIR wires reliable checkpointing into an
    engine session (the deployment hook cut_lineage's cluster path
    depends on)."""
    from etl_data_pipeline_spark.session import _apply_checkpoint_dir

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    _apply_checkpoint_dir(spark)
    try:
        assert (tmp_path / "ck").as_posix() in sc.getCheckpointDir()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_graph_query_parity_under_reliable_checkpoint(spark, tmp_path):
    """The iterative dedup-graph query returns IDENTICAL rows when
    cut_lineage takes the reliable-checkpoint path (cluster posture)
    as when it falls back to localCheckpoint (local posture)."""
    from etl_data_pipeline_spark.plans import QUERIES, load_all_plans

    load_all_plans()
    sf = "/root/testdata/sf0.001"
    fn = QUERIES["neardup_clusters"]
    base = sorted(map(tuple, fn(spark, sf).collect()))
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        ckpt = sorted(map(tuple, fn(spark, sf).collect()))
        assert list((tmp_path / "ck").rglob("*")), "reliable path not taken"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert ckpt == base
