"""Checkpoint/lineage/resume tests (north rule: "resumable from
checkpoint with per-partition lineage + metrics")."""

import json
import os

from pyspark.sql import functions as F

from pseudopeople_spark.checkpoint import StageCheckpointer


def test_stage_checkpoint_write_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    ck = StageCheckpointer(spark, root)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("x"))

    out1 = ck.run("stage_a", build, upstream=[])
    assert out1.count() == 100
    assert calls["n"] == 1
    # second run resumes from the snapshot — the builder must NOT re-run
    out2 = ck.run("stage_a", build, upstream=[])
    assert out2.count() == 100
    assert calls["n"] == 1, "stage must resume from checkpoint, not recompute"

    # manifest carries rows/schema/kpis
    man = ck.manifest("stage_a")
    assert man["rows"] == 100
    assert man["stage"] == "stage_a"
    assert "schema" in man and "wall_seconds" in man

    # per-partition lineage metrics exist and sum to the row count
    metrics = spark.read.parquet(os.path.join(root, "stage_a", "_metrics"))
    assert metrics.agg(F.sum("rows")).collect()[0][0] == 100
    assert set(metrics.columns) >= {"partition_id", "rows", "stage", "wall_seconds"}


def test_incomplete_stage_is_recomputed(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    ck = StageCheckpointer(spark, root)
    ck.run("s1", lambda: spark.range(10), upstream=[])
    # simulate a crash mid-write: remove the manifest
    os.remove(os.path.join(root, "s1", "_SUCCESS_STAGE"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10)

    ck.run("s1", build, upstream=[])
    assert calls["n"] == 1, "stage without a manifest must recompute"


def test_resolve_with_checkpoint_dir_resumes(spark, tmp_path):
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import ResolveConfig, normalize_records, resolve

    pop = synth.simulants(spark, 300, seed=8)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    records = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    root = str(tmp_path / "resolve_ckpt")

    r1 = resolve(spark, records, ResolveConfig(checkpoint_dir=root))
    a1 = {(row["record_id"], row["cluster_id"]) for row in r1["assignments"].collect()}
    # all four stages snapshotted with manifests
    for stage in ("blocking", "pairs", "scoring", "clustering"):
        assert os.path.exists(os.path.join(root, stage, "_SUCCESS_STAGE")), stage
    # one wall clock per stage and nothing finer
    assert set(r1["stage_seconds"]) == {"normalize", "blocking", "pairs", "scoring", "clustering"}
    assert "edges" not in r1

    # resume: identical assignments, stages loaded not recomputed
    r2 = resolve(spark, records, ResolveConfig(checkpoint_dir=root))
    a2 = {(row["record_id"], row["cluster_id"]) for row in r2["assignments"].collect()}
    assert a1 == a2
    resumed = {k: v for k, v in r2["stage_seconds"].items() if k != "normalize"}
    assert all(v < 10.0 for v in resumed.values()), resumed
