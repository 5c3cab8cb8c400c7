"""Token-corruption kernel tests — the reference's de-facto spec is
exhaustive legal-output enumeration (its tests/unit/test_column_noise.py:45-168);
we assert output legality, rate, determinism, and mask short-circuit."""

import numpy as np
from pyspark.sql import functions as F

from pseudopeople_spark.operators.kernels import (
    _corrupt_tokens_one,
    apply_token_noise_all_columns,
    make_corrupt_tokens_udf,
    make_typos_udf,
)


def test_corrupt_tokens_longest_match_first():
    rules = {"ph": ("f",), "p": ("b",), "h": ("x",)}
    # with p=1.0 every candidate corrupts; 'ph' must win over 'p'
    out = _corrupt_tokens_one("phase", 123, 7, rules, 2, 1.0)
    assert out.startswith("f"), out


def test_corrupt_tokens_all_outputs_legal():
    rules = {"5": ("S",), "LI": ("U",)}
    outs = {_corrupt_tokens_one("5LI5", k, 1, rules, 2, 0.5) for k in range(300)}
    legal = set()
    for a in ("5", "S"):
        for b in ("LI", "U"):
            for c in ("5", "S"):
                legal.add(a + b + c)
    assert outs <= legal
    assert len(outs) > 1, "some corruption must occur at p=0.5"


def test_corrupt_tokens_rate():
    rules = {"a": ("@",)}
    n_corrupted = sum(_corrupt_tokens_one("aaaaaaaaaa", k, 3, rules, 1, 0.3).count("@") for k in range(500))
    # 5000 independent draws at p=0.3
    assert abs(n_corrupted / 5000 - 0.3) < 0.03


def test_udf_mask_short_circuit(spark):
    df = spark.range(1000).select(
        F.col("id"),
        F.xxhash64("id").alias("k"),
        (F.col("id") % 2 == 0).alias("m"),
        F.lit("smith").alias("v"),
    )
    udf = make_corrupt_tokens_udf({"s": ("z",), "th": ("t",)}, token_probability=1.0, seed=1)
    out = df.withColumn("o", udf("k", "m", "v"))
    assert out.where(~F.col("m") & (F.col("o") != "smith")).count() == 0
    assert out.where(F.col("m") & (F.col("o") == "smith")).count() == 0


def test_typos_udf_case_and_insert(spark):
    df = spark.range(2000).select(F.xxhash64("id").alias("k"), F.lit(True).alias("m"), F.lit("QQQQQ").alias("v"))
    udf = make_typos_udf({"q": "12wa"}, token_probability=1.0, include_original_probability=0.0, seed=2)
    rows = df.withColumn("o", udf("k", "m", "v")).select("o").collect()
    for r in rows:
        assert len(r["o"]) == 5
        assert all(c in "12WA" for c in r["o"]), r["o"]  # uppercase preserved

    udf_ins = make_typos_udf({"q": "w"}, token_probability=1.0, include_original_probability=1.0, seed=3)
    row = df.limit(1).withColumn("o", udf_ins("k", "m", "v")).first()["o"]
    # reference emits the TYPO first, then the kept original
    # (noise_functions.py:740-755: position gets the typo, original appended)
    assert row == "WQWQWQWQWQ"


def test_apply_token_noise_plan_determinism_across_partitions(spark):
    base = spark.range(5000).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("record_id"),
        F.lit("Johnson").alias("name"),
    )
    plan = [("make_typos", {"o": "ip", "n": "mh"}, 0.5, 0.5)]
    a = apply_token_noise_all_columns(base.repartition(3), [("name", plan)], "record_id", seed=5)
    b = apply_token_noise_all_columns(base.repartition(19), [("name", plan)], "record_id", seed=5)
    da = {r["record_id"]: r["name"] for r in a.collect()}
    db = {r["record_id"]: r["name"] for r in b.collect()}
    assert da == db
    assert any(v != "Johnson" for v in da.values())


def test_oracle_retry_instance_executes_shorter_token_loop():
    """The `noise_phonetic_retry` entry query's bounded instance must
    actually EXECUTE the shorter-token retry (kernels.py length loop
    running >= 2 iterations at one position: failed 2-char draw ->
    independent 1-char draw) — this pins the claim that the oracle
    covers that branch, rather than structurally skipping it the way
    the non-overlapping `noise_phonetic_bounded` table does."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "entry_mod", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)
    from pseudopeople_spark.operators.kernels import _salt

    draw = E._make_scan_draw("phonetic_retry")
    salt = _salt(E.SEED, "phonetic_retry")
    rules = {a: tuple(b) for a, b in E._PR_RULES.items()}
    two = [k for k in rules if len(k) == 2][0]
    assert two[0] in rules, "retry instance must OVERLAP (2-char head is a 1-char rule)"

    seen = {"two_draws": 0, "retry_draws": 0, "retry_success": 0}
    orig = draw

    def counting_draw(row_key, i, L, which):
        u = orig(row_key, i, L, which)
        name = E._PR_NAMES[row_key % 8]
        if which == 0 and name[i : i + 2] == two:
            if L == 2:
                seen["two_draws"] += 1
            elif L == 1:
                # the kernel only asks for the 1-char draw at a 2-char
                # match position AFTER the 2-char draw failed = the retry
                seen["retry_draws"] += 1
                if u < E._PB_TP:
                    seen["retry_success"] += 1
        return u

    for k in range(512):
        _corrupt_tokens_one(
            E._PR_NAMES[k % 8], k, salt, rules, 2, E._PB_TP, draw=counting_draw
        )
    assert seen["two_draws"] > 0
    assert seen["retry_draws"] > 0, "shorter-token loop never reached iteration 2"
    assert seen["retry_success"] > 0, "retry arm never actually corrupted"


def test_pure_python_splitmix_bit_exact_vs_numpy():
    # the scan loops' scalar draw path must reproduce the vectorized
    # numpy splitmix64 stream bit-exactly (same (key, pos, salt) keying)
    import numpy as np

    from pseudopeople_spark.crn import splitmix64_u01
    from pseudopeople_spark.operators.kernels import _M64, _sm_mix, _sm_u01_tail

    rng = np.random.default_rng(7)
    for _ in range(200):
        a, b, c = (int(x) for x in rng.integers(0, 2**64, size=3, dtype=np.uint64))
        ref = splitmix64_u01([np.uint64(a), np.uint64(b), np.uint64(c)])
        prefix = _sm_mix(_sm_mix(0, a & _M64), b & _M64)
        assert _sm_u01_tail(prefix, c & _M64) == ref
