"""Similarity function tests: Jaro-Winkler matches DuckDB bit-for-bit
(the oracle contract), metaphone blocking properties, n-gram expression."""

import duckdb
import random
import string

from pyspark.sql import functions as F

from pseudopeople_spark.functions.similarity import (
    _double_metaphone_one,
    jaro_winkler,
    jaro_winkler_udf,
    ngrams,
    token_set_ratio_udf,
)


def test_jaro_winkler_matches_duckdb_exactly():
    con = duckdb.connect()
    random.seed(7)
    cases = [("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("", ""), ("", "A"), ("SMITH", "SMYTH")]
    cases += [
        (
            "".join(random.choices(string.ascii_uppercase[:8], k=random.randint(0, 12))),
            "".join(random.choices(string.ascii_uppercase[:8], k=random.randint(0, 12))),
        )
        for _ in range(800)
    ]
    for a, b in cases:
        d = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler(a, b) == d, (a, b)


def test_jw_batch_matches_scalar():
    """The vectorized batch kernel behind jaro_winkler_udf must be
    value-IDENTICAL (same float64 ops, same order) to the scalar
    kernel the DuckDB-parity test pins — including empties, equal
    strings, the Winkler prefix boost, transpositions, unicode, and
    the >64-char scalar fallback."""
    from pseudopeople_spark.functions.similarity import jaro_winkler_batch

    random.seed(11)
    cases = [("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("", ""), ("", "A"), ("A", ""),
             ("SMITH", "SMITH"), ("ünïcø", "unico"), ("x" * 70, "x" * 69 + "y")]
    cases += [
        (
            "".join(random.choices(string.ascii_uppercase[:8] + "# 0", k=random.randint(0, 14))),
            "".join(random.choices(string.ascii_uppercase[:8] + "# 0", k=random.randint(0, 14))),
        )
        for _ in range(3000)
    ]
    xs = [c[0] for c in cases]
    ys = [c[1] for c in cases]
    got = jaro_winkler_batch(xs, ys)
    for i, (a, b) in enumerate(cases):
        if a == b:
            exp = 1.0 if a else 0.0
        elif not a or not b:
            exp = 0.0
        else:
            exp = jaro_winkler(a, b)
        assert got[i] == exp, (a, b, got[i], exp)


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([("MARTHA", "MARHTA"), ("A", None)], ["a", "b"])
    rows = df.select(jaro_winkler_udf("a", "b").alias("s")).collect()
    assert abs(rows[0]["s"] - jaro_winkler("MARTHA", "MARHTA")) < 1e-12
    assert rows[1]["s"] is None


def test_double_metaphone_blocking_properties():
    # phonetically-similar surnames share a primary code
    assert _double_metaphone_one("SMITH")[0] == _double_metaphone_one("SMYTH")[0]
    assert _double_metaphone_one("PHILLIPS")[0] == _double_metaphone_one("FILLIPS")[0]
    assert _double_metaphone_one("CATHERINE")[0] == _double_metaphone_one("KATHERINE")[0]
    # secondary differs from primary where alternate codings exist
    p, s = _double_metaphone_one("SCHMIDT")
    assert p  # non-empty
    assert _double_metaphone_one("")[0] == ""
    assert _double_metaphone_one("123")[0] == ""


def test_ngrams_expression(spark):
    df = spark.createDataFrame([("abcd",)], ["s"])
    row = df.select(ngrams("s", 3).alias("g")).first()
    assert row["g"] == ["abc", "bcd"]
    row2 = df.select(ngrams(F.lit("ab"), 3).alias("g")).first()
    assert row2["g"] == ["ab"]  # shorter than n -> single truncated gram


def test_token_set_ratio(spark):
    df = spark.createDataFrame([("ACME CORP LLC", "CORP ACME"), ("X", "Y")], ["a", "b"])
    rows = df.select(token_set_ratio_udf("a", "b").alias("s")).collect()
    assert abs(rows[0]["s"] - 2 / 3) < 1e-12
    assert rows[1]["s"] == 0.0


def test_ssn_consensus_pruning(spark):
    """Identifier-consensus edge pruning (scoring.prune_edges_by_ssn_
    consensus): a bare-SSN record whose partners disagree keeps only
    strict-majority-SSN edges; ties keep everything."""
    from pseudopeople_spark.linkage.scoring import prune_edges_by_ssn_consensus

    rows = [
        # census c1: two partners vote ssn A, one votes B -> B edge dropped
        ("c1", "w1", 0.99, None, "111111111"),
        ("c1", "s1", 0.99, None, "111111111"),
        ("c1", "w9", 0.99, None, "222222222"),
        # census c2: tie (1 vote each) -> both kept
        ("c2", "w2", 0.95, None, "333333333"),
        ("c2", "w3", 0.95, None, "444444444"),
        # two-sided ssn edge: untouched
        ("s1", "w1", 0.99, "111111111", "111111111"),
        # census c3: single partner, no disagreement -> kept
        ("c3", "w4", 0.93, None, "555555555"),
        # census c4: minority vote is a 1-digit NOISE VARIANT of the
        # winner (write_wrong_digits) -> same identity, edge KEPT
        ("c4", "w5", 0.99, None, "666666666"),
        ("c4", "w6", 0.99, None, "666666666"),
        ("c4", "w7", 0.99, None, "666666667"),
    ]
    edges = spark.createDataFrame(
        rows, "id_l string, id_r string, score double, l_ssn_digits string, r_ssn_digits string"
    )
    kept = {(r["id_l"], r["id_r"]) for r in prune_edges_by_ssn_consensus(edges).collect()}
    assert ("c1", "w9") not in kept
    assert {("c1", "w1"), ("c1", "s1"), ("c2", "w2"), ("c2", "w3"), ("s1", "w1"), ("c3", "w4")} <= kept
    assert ("c4", "w7") in kept, "digit-noised variant of the winning SSN must survive"


def test_same_dataset_veto_scoped_to_period():
    """The same-dataset hard veto is scoped to the dataset-PERIOD: a
    2020-census and a 2030-census row of one entity (perfect sims) is a
    legitimate match; two rows in the SAME period stay vetoed, as do
    rows with NULL periods (whole-dataset conservative default)."""
    import numpy as np
    import pyarrow as pa

    from pseudopeople_spark.linkage.scoring import cascade_match_mask

    # rows: a/b cross-period, c/d same period, e/f null periods
    sims = {
        f: np.ones(3)
        for f in ("first_name", "last_name", "dob", "middle", "sex", "zipcode", "city", "ssn_digits")
    }

    def both(v):
        return pa.array([v] * 3)

    aux = {
        "l_first_name": both("ALICE"), "r_first_name": both("ALICE"),
        "l_ssn_digits": both("123456789"), "r_ssn_digits": both("123456789"),
        "l_byear": both("1980"), "r_byear": both("1980"),
        "l_dataset": both("census"), "r_dataset": both("census"),
        "l_period": pa.array(["2020", "2020", None], pa.string()),
        "r_period": pa.array(["2030", "2020", None], pa.string()),
        "l_base_rid": pa.array([1, 3, 5]), "r_base_rid": pa.array([2, 4, 6]),
    }
    got = cascade_match_mask(sims, np.ones(3), aux, same_dataset_distinct=True)
    assert got[0], "cross-period same-dataset pair must not be hard-vetoed"
    assert not got[1], "same-period pair stays vetoed"
    assert not got[2], "null periods keep the whole-dataset veto"


def test_cross_best_equals_naive_cross_product():
    """_cross_best (bound-pruned, memoized) must be value-identical to
    the naive max over the family cross-product of
    1 - levenshtein/max(len) — including non-ASCII names, empty
    strings (ratio 0.0 by contract, pruned up front), and the >=0.93
    early stop (its only consumer caps the result at 0.93, so any
    early-stopped value must still compare equal after min(.,0.93))."""
    from pseudopeople_spark.functions.similarity import _cross_best, levenshtein

    rng = random.Random(7)
    pool = [
        "", "JOHN", "JON", "JOHNNY", "JONATHAN", "J", "JOSE", "JOSÉ",
        "KATHERINE", "KATE", "KATIE", "CATHERINE", "KIT", "ÅSA", "ASA",
        "ELIZABETH", "LIZ", "BETH", "BETSY", "ZZZZZZ", "QQ",
    ]

    def naive(va, vb):
        best = 0.0
        for x in va:
            for y in vb:
                m = max(len(x), len(y))
                if m:
                    best = max(best, 1.0 - levenshtein(x, y) / m)
        return best

    for _ in range(200):
        va = frozenset(rng.sample(pool, rng.randint(1, 6)))
        vb = frozenset(rng.sample(pool, rng.randint(1, 6)))
        got, want = _cross_best(va, vb), naive(va, vb)
        assert min(got, 0.93) == min(want, 0.93), (sorted(va), sorted(vb), got, want)
        if want < 0.93:
            assert got == want, (sorted(va), sorted(vb), got, want)
