"""CRN determinism contract (SURVEY.md §2.D / §7.0): draws are keyed
only by (seed, decision, record key) — invariant to partitioning — and
the portable LCG evaluates identically in DuckDB."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pseudopeople_spark.crn import (
    fold_salt64, hash_u01, portable_u01, portable_u01_sql, splitmix64_u01,
)


def test_hash_u01_range_and_determinism(spark):
    df = spark.range(10_000).select(hash_u01(F.col("id"), 42, "t").alias("u"))
    row = df.agg(F.min("u"), F.max("u"), F.avg("u")).collect()[0]
    assert 0.0 <= row[0] and row[1] < 1.0
    assert abs(row[2] - 0.5) < 0.02  # uniform mean

    a = spark.range(1000).select(hash_u01(F.col("id"), 7, "x").alias("u")).collect()
    b = spark.range(1000).repartition(17).select(hash_u01(F.col("id"), 7, "x").alias("u")).collect()
    assert sorted(r["u"] for r in a) == sorted(r["u"] for r in b), "partitioning changed draws"


def test_different_seeds_and_decisions_differ(spark):
    base = spark.range(500)
    u1 = base.select(hash_u01(F.col("id"), 1, "d").alias("u")).collect()
    u2 = base.select(hash_u01(F.col("id"), 2, "d").alias("u")).collect()
    u3 = base.select(hash_u01(F.col("id"), 1, "e").alias("u")).collect()
    assert [r["u"] for r in u1] != [r["u"] for r in u2]
    assert [r["u"] for r in u1] != [r["u"] for r in u3]


def test_fold_salt64_pinned_and_int_seeds_only():
    # pinned: a change here moves every hash_u01 draw
    assert fold_salt64(42, "t") == 3634673010641215355
    assert fold_salt64(1, "omit_row") == 2484120193484982234
    assert fold_salt64(np.int64(42), "t") == fold_salt64(42, "t")
    # a str seed could carry the "|" separator ("1|a", "b" vs "1", "a|b")
    with pytest.raises(TypeError):
        fold_salt64("1|a", "b")


def test_portable_u01_matches_duckdb(spark):
    sdf = spark.range(2000).select(F.col("id"), portable_u01(F.col("id"), 42, "leave_blank").alias("u"))
    spark_vals = {r["id"]: r["u"] for r in sdf.collect()}
    expr = portable_u01_sql("i", 42, "leave_blank")
    duck = duckdb.sql(f"SELECT i, {expr} AS u FROM (SELECT unnest(range(2000)) AS i)").fetchall()
    for i, u in duck:
        assert spark_vals[i] == u, f"id {i}: spark {spark_vals[i]} != duckdb {u}"


def test_splitmix64_u01_vectorized_stateless():
    keys = np.arange(1000, dtype=np.uint64)
    u = splitmix64_u01([keys, np.uint64(3), np.uint64(9)])
    assert u.shape == (1000,)
    assert (u >= 0).all() and (u < 1).all()
    u2 = splitmix64_u01([keys, np.uint64(3), np.uint64(9)])
    assert (u == u2).all()
    assert abs(u.mean() - 0.5) < 0.05
