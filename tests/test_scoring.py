"""Pair scoring and the match decision (scoring.match_pairs).

  * Every size regime — Arrow IPC lookup, scratch-parquet lookup,
    co-partitioned join — returns the same matched rows. Tests reach
    each regime through ``n_records``, on either side of the two
    thresholds.
  * Those rows equal the decisions of the ORACLE below: the cascade
    written as Spark Columns (its first implementation, kept here as the
    reference), applied to the same sims. Checked on an adversarial
    randomized grid and over resolve()'s own pairs on a real noised
    input. Since both sides read the same sims, a mismatch is the
    cascade translation itself, not float drift.
  * The sims themselves: pinned known values, and dob/ssn sims against
    Spark's built-in ``levenshtein``.
"""

from __future__ import annotations

import math
import random
from unittest import mock

import pyarrow as pa
import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pseudopeople_spark.linkage import scoring

SIMS = [s.name for s in scoring.DEFAULT_FIELDS]
AUX = list(scoring.CASCADE_AUX_FIELDS)
FIELD_TYPES = {f: ("long" if f == "base_rid" else "string") for f in scoring.LOOKUP_FIELDS}
RECORD_SCHEMA = "record_id long, " + ", ".join(f"{f} {t}" for f, t in FIELD_TYPES.items())


# --------------------------------------------------------------------------
# Oracle: the match cascade as Spark Columns over the sim columns.
# --------------------------------------------------------------------------

def swap_month_day(dob: Column) -> Column:
    """yyyyMMdd with month/day transposed — inverts the reference's
    swap_month_and_day noise for comparison purposes."""
    return F.concat(dob.substr(1, 4), dob.substr(7, 2), dob.substr(5, 2))


def dob_similarity(a: Column, b: Column) -> Column:
    """[0,1] similarity of two yyyyMMdd strings that treats a month/day
    transposition as an exact match (it is the single most common date
    corruption — reference swap_months_and_days) and otherwise falls
    back to normalized edit distance."""
    mx = F.greatest(F.length(a), F.length(b))
    # the equal branch already covers both-empty; the guard keeps the
    # division ANSI-safe (x/0 raises under Spark 4's default ANSI mode)
    lev = F.when(mx > 0, F.lit(1.0) - F.levenshtein(a, b).cast("double") / mx)
    return F.when(a.isNull() | b.isNull(), None).otherwise(
        F.when((a == b) | (swap_month_day(a) == b), 1.0).otherwise(lev)
    )


def _tier_columns(threshold: float = 0.92) -> "dict[str, Column]":
    """Decision layer on top of the similarity vector — a deterministic
    rule cascade, each tier motivated by one of the reference's noise
    channels, with the weighted score as the probabilistic fallback:

      tier 1  SSN exact + (first-name agrees OR dob agrees).
              The corroboration guard matters: copy_from_household_member
              puts a SPOUSE's ssn on 1% of tax rows, so a bare SSN join
              would merge households.
      tier 2  dob agrees (incl. month/day-swap) + last name strong +
              (first name strong OR missing). Covers the no-SSN
              census pairs.
      tier 3  weighted score >= threshold with >=3 identity fields
              (first/last/dob/ssn) present on both sides — the
              evidence floor kills sparse pairs whose few overlapping
              fields renormalize to a perfect score.
      veto    decisive first-name disagreement (both present, JW<0.6)
              blocks tiers 2-3: copy-noise gives spouses/siblings an
              identical dob at the same address, and first name is then
              the only discriminating field.

    All columns here are JVM expressions over the already-computed sims.
    """
    jf, jl = F.col("sim_first_name"), F.col("sim_last_name")
    dob = F.col("sim_dob")
    mid = F.col("sim_middle")
    sex = F.col("sim_sex")
    ssn_exact = (F.col("l_ssn_digits") == F.col("r_ssn_digits")) & (F.length("l_ssn_digits") == 9)
    first_missing = F.col("l_first_name").isNull() | F.col("r_first_name").isNull()
    mid_compat = mid.isNull() | (mid == 1.0)   # middle initial doesn't contradict
    sex_compat = sex.isNull() | (sex == 1.0)   # sex doesn't contradict
    geo_exact = (F.col("sim_zipcode") == 1.0) & (F.col("sim_city") == 1.0)
    evidence = (
        (jf.isNotNull()).cast("int")
        + (jl.isNotNull()).cast("int")
        + (dob.isNotNull()).cast("int")
        + (mid.isNotNull()).cast("int")
        + (F.col("sim_zipcode").isNotNull()).cast("int")
        + (F.col("l_ssn_digits").isNotNull() & F.col("r_ssn_digits").isNotNull()).cast("int")
    )
    # 0.65: low enough that a single in-name typo on a short name
    # (PAVI/PAUL ~ 0.67) doesn't hard-refute a pair that other fields
    # support; different-person first names in the same block sit ~0.5
    veto = jf.isNotNull() & (jf < 0.65)
    # SSN disagreement is strong negative evidence — but the threshold
    # must sit ABOVE the noise channel's tail: write_wrong_digits at
    # token_probability 0.1 corrupts >=3 of 9 digits on ~6% of noised
    # cells (true pairs!), while different people's SSNs differ by ~7+
    # digits. lev > 4 keeps ~99.9% of noised true pairs and still
    # refutes every random pair. Conflict blocks tiers 2-6 (tier 1
    # requires exactness anyway).
    ssn_conflict = (
        F.col("l_ssn_digits").isNotNull()
        & F.col("r_ssn_digits").isNotNull()
        & (F.levenshtein("l_ssn_digits", "r_ssn_digits") > 4)
    )
    # tier 1: SSN agreement, corroborated. The corroboration matters:
    # copy_from_household_member puts a RELATIVE's ssn on 1% of tax rows,
    # so a bare SSN join would merge households. When first name or dob
    # is blanked, last-name + non-conflicting dob corroborates instead.
    # geo conflict: both zips present and different — used as negative
    # evidence in the name-only tiers (same-household true pairs share
    # the address; noise breaks it for only ~2% of them)
    geo_conflict = (
        F.col("sim_zipcode").isNotNull() & (F.col("sim_zipcode") == 0.0)
    )
    # birth-year evidence (from the dob, or reconstructed ref_year-age):
    # agreement within the misreport_age spread supports a match; a gap
    # beyond any noise channel refutes one
    def _sane_byear(c: str):
        y = F.col(c).cast("int")
        # digit noise produces absurd years (7013, 1763) — treat as
        # missing rather than as refuting evidence
        return F.when((y >= 1850) & (y <= 2100), y)

    byear_diff = F.abs(_sane_byear("l_byear") - _sane_byear("r_byear"))
    byear_agree = F.coalesce(byear_diff <= 2, F.lit(False))
    byear_conflict = F.coalesce(byear_diff > 5, F.lit(False))
    tier1 = ssn_exact & (
        (jf >= 0.85)
        | ((dob >= 0.85) & ~veto)
        | ((jl >= 0.85) & (jf.isNull() | dob.isNull()) & (dob.isNull() | (dob >= 0.55)) & ~veto)
    )
    # near-exact SSN (<=2 noised digits — write_wrong_digits at its
    # default rate leaves ~94% of noised SSNs within 2) with the same
    # corroboration: random SSN pairs differ by ~7+ digits, so lev<=2
    # is still ~1-in-10^5 evidence
    ssn_near = (
        F.col("l_ssn_digits").isNotNull()
        & (F.length("l_ssn_digits") == 9)
        # BOTH sides must be full SSNs: unlike equality, lev<=2 does not
        # imply equal lengths — a 7-digit truncated/masked SSN matches
        # ~100 different full SSNs and is not 1-in-10^5 evidence
        & (F.length("r_ssn_digits") == 9)
        & (F.levenshtein("l_ssn_digits", "r_ssn_digits") <= 2)
    )
    tier1b = ssn_near & (
        (jf >= 0.85) | ((dob >= 0.85) & ~veto) | ((jl >= 0.85) & ~veto & (dob >= 0.55))
    )
    # tier 2: dob agreement (incl. month/day swap) + strong last name +
    # first agrees or is missing (blank/fake-name noise); a missing
    # first must not be contradicted by middle initial or sex
    tier2 = (dob == 1.0) & (jl >= 0.85) & ~ssn_conflict & (
        ((jf >= 0.85) & (mid_compat | (jf == 1.0)))
        | (first_missing & mid_compat & sex_compat)
    )
    # tier 3: probabilistic fallback with an evidence floor (sparse
    # pairs renormalize to perfect scores) and the first-name veto
    tier3 = (
        (F.col("score") >= threshold)
        & (evidence >= 3)
        & ~veto
        & ~ssn_conflict
        # with the first name missing, near-miss dobs are pure
        # name-collision bait — demand exact dob agreement and a
        # non-contradicting sex (different-sex twins share last name +
        # dob and one blanked first name is all it takes otherwise)
        & (jf.isNull() | (jf >= 0.78))
        & (jf.isNotNull() | ((dob == 1.0) & sex_compat))
        # a high score with NO hard identifier present (no dob on a
        # side, no ssn pair) is just agreeing names — not enough
        & (dob.isNotNull() | (F.col("l_ssn_digits").isNotNull() & F.col("r_ssn_digits").isNotNull()))
    )
    # tier 4: dob missing on one side (leave_blank) — near-exact names
    # + independent corroboration. 0.94 on the first name sits ABOVE
    # the 0.93 nickname-family grants (a family overlap alone must not
    # qualify as near-exact) while admitting one-typo names.
    tier4 = (
        dob.isNull() & (jf >= 0.94) & (jl >= 0.95)
        & ((mid == 1.0) | geo_exact | byear_agree) & ~byear_conflict
        & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
    )
    # tier 5: dob conflict (copy_from_household_member puts a relative's
    # dob on the row). The danger class is same-name kin at the same
    # address (parent/child, same-name siblings), so demand either a
    # near-agreeing dob with compatible middle/sex, or an exactly
    # matching middle initial with a half-agreeing dob.
    tier5 = (
        (jl >= 0.95) & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
        & (
            ((jf >= 0.9) & (dob >= 0.875) & mid_compat)
            | ((jf >= 0.95) & (dob >= 0.55) & (mid == 1.0))
            | ((jf >= 0.95) & (dob >= 0.55) & geo_exact & mid_compat)
            # NOTE deliberately NO (names + dob~0.75 + byear) arm: at
            # 20k simulants that signature is genuinely ambiguous —
            # same-name same-birth-year DIFFERENT people with a
            # 2-char dob difference are as common as true pairs whose
            # dob took one corrupted segment (measured +209 FP / +150
            # TP at 20k) — precision loses more than recall gains.
        )
    )
    # tier 6: last name blanked on a side — first+dob exact with
    # non-contradicting middle/sex (child records appear only in
    # census+ssa, where dob is the main identifier)
    tier6 = jl.isNull() & (jf >= 0.95) & (dob == 1.0) & mid_compat & sex_compat & ~ssn_conflict
    return {
        "tier1": tier1, "tier1b": tier1b, "tier2": tier2, "tier3": tier3,
        "tier4": tier4, "tier5": tier5, "tier6": tier6,
    }


def tiered_match(scored: DataFrame, threshold: float = 0.92, same_ds: bool = False) -> DataFrame:
    """OR of the cascade tiers (see :func:`_tier_columns` for the rule
    rationale), plus the same-dataset-period hard constraint."""
    is_match = None
    for col in _tier_columns(threshold).values():
        c = F.coalesce(col, F.lit(False))
        is_match = c if is_match is None else (is_match | c)
    if same_ds and "l_dataset" in scored.columns:
        # Within ONE extract period an entity appears at most once (one
        # census row per simulant per year, reference interface.py), so
        # a same-dataset pair is a different entity BY CONSTRUCTION —
        # except a guardian-duplication twin, whose record_id is the
        # original's + "_dup". Cluster merges are the costly error class
        # (one bad edge turns every cross-pair of two clusters into an
        # FP), and same-household same-name kin are exactly the pairs
        # this hard constraint removes.
        if "l_base_rid" in scored.columns:
            # int64-id pipeline: the guardian-duplication twin shares its
            # original's base_rid (the id hashed with "_dup" stripped).
            # base_rid is VERIFIED 1:1 against the stripped string key in
            # _assign_int_ids' materialized-frame aggregate, so equality
            # here is exactly the string test below — a hash collision
            # cannot falsely exempt an unrelated same-dataset pair.
            dup_twin = F.col("l_base_rid") == F.col("r_base_rid")
        else:
            dup_twin = (F.col("id_r") == F.concat(F.col("id_l"), F.lit("_dup"))) | (
                F.col("id_l") == F.concat(F.col("id_r"), F.lit("_dup"))
            )
        same_dataset = F.col("l_dataset") == F.col("r_dataset")
        if "l_period" in scored.columns:
            # the uniqueness unit is the dataset-PERIOD (normalize_records
            # stamps it from ref_year / period_col): a 2020-census row and
            # a 2030-census row of the same entity are a legitimate match.
            # NULL periods compare equal (eqNullSafe) — the conservative
            # whole-dataset veto for callers that stamp no period.
            same_dataset = same_dataset & F.col("l_period").eqNullSafe(F.col("r_period"))
        is_match = is_match & (~same_dataset | dup_twin)
    return scored.withColumn("is_match", is_match)


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _engine():
    specs = [(s.name, s.kind, s.weight) for s in scoring.DEFAULT_FIELDS]
    return scoring._make_sim_engine(scoring._nickname_families(), specs)


def _engine_sims(recs, pairs):
    """Driver-side sims + score for ``pairs`` over ``recs`` (record_id
    -> field dict), from the same engine the workers run."""
    col = {}
    for f, t in FIELD_TYPES.items():
        typ = pa.int64() if t == "long" else pa.string()
        col[f"l_{f}"] = pa.array([recs[l][f] for l, _ in pairs], typ)
        col[f"r_{f}"] = pa.array([recs[r][f] for _, r in pairs], typ)
    return _engine()(col, len(pairs))


def _null(x):
    return None if math.isnan(x) else float(x)


def _match_set(df):
    return {
        (r["id_l"], r["id_r"], round(r["score"], 12), r["l_ssn_digits"], r["r_ssn_digits"])
        for r in df.collect()
    }


def _oracle_matches(spark, recs, pairs, threshold=0.92):
    """The oracle's matched rows for ``pairs``, with the same-dataset
    veto on as in resolve(). Rows go in as Python values with None for
    nulls — never NaN, which Spark orders above every double."""
    sims, score = _engine_sims(recs, pairs)
    rows = [
        (l, r, float(score[i]), *[_null(sims[f][i]) for f in SIMS],
         *[recs[l][f] for f in AUX], *[recs[r][f] for f in AUX])
        for i, (l, r) in enumerate(pairs)
    ]
    schema = ", ".join(
        ["id_l long", "id_r long", "score double"]
        + [f"sim_{f} double" for f in SIMS]
        + [f"{side}_{f} {FIELD_TYPES[f]}" for side in ("l", "r") for f in AUX]
    )
    decided = tiered_match(spark.createDataFrame(rows, schema), threshold, same_ds=True)
    return _match_set(decided.where(F.col("is_match")).select(*scoring.MATCH_COLUMNS))


def _regime_matches(pairs, records, n_records):
    """(regime taken, matched rows) for one match_pairs call. Spies on
    the IPC lookup and the attach join, module globals that match_pairs
    looks up at call time; a call reaching neither took the parquet
    lookup."""
    with mock.patch.object(scoring, "ArrowIpcLookup", wraps=scoring.ArrowIpcLookup) as ipc, \
            mock.patch.object(scoring, "attach_pair_fields", wraps=scoring.attach_pair_fields) as join:
        got = _match_set(scoring.match_pairs(pairs, records, n_records))
    return ("ipc" if ipc.called else "join" if join.called else "parquet"), got


# each regime from both sides of its thresholds
REGIMES = [
    ("ipc", scoring.SMALL_LOOKUP_MAX_ROWS),
    ("parquet", scoring.SMALL_LOOKUP_MAX_ROWS + 1),
    ("parquet", scoring.LOOKUP_MAX_ROWS),
    ("join", scoring.LOOKUP_MAX_ROWS + 1),
]


def _check_regimes_against_oracle(spark, recs, pairs):
    records = spark.createDataFrame(
        [(i, *[recs[i][f] for f in FIELD_TYPES]) for i in sorted(recs)], RECORD_SCHEMA
    ).localCheckpoint()
    pair_df = spark.createDataFrame(pairs, "id_l long, id_r long").localCheckpoint()
    want = _oracle_matches(spark, recs, pairs)
    for regime, n_records in REGIMES:
        took, got = _regime_matches(pair_df, records, n_records)
        assert took == regime, (n_records, took)
        assert got == want, (regime, n_records)
    return want


# --------------------------------------------------------------------------
# adversarial grid: value pools dense in the cascade's boundary cases —
# nulls, empty strings, 1/2/5-digit-apart SSNs, 7-digit truncations,
# swapped dobs, insane byears, same dataset-period slots, dup twins —
# paired ~quadratically
# --------------------------------------------------------------------------


def _pool_records(n=400, seed=7):
    rng = random.Random(seed)
    firsts = [None, "", "WILLIAM", "BILL", "WILLIA", "MARY", "MARIE", "M", "JOSÉ", "JOSE"]
    lasts = [None, "", "SMITH", "SMYTH", "SMITHE", "GARCÍA", "GARCIA", "LEE"]
    mids = [None, "J", "K"]
    dobs = [None, "", "19800102", "19800201", "19800103", "19801002", "7013AB01", "19840312"]
    ssns = [None, "", "123456789", "123456780", "123456700", "987654321", "1234567", "12345678901"]
    zips = [None, "99501", "99502"]
    cities = [None, "ANCHORAGE", "JUNEAU"]
    sexes = [None, "M", "F"]
    byears = [None, "1980", "1981", "1984", "1990", "7013", "1763"]
    datasets = ["census", "w2", "ssa"]
    periods = [None, "2020", "2030", "creation"]
    recs = {}
    for i in range(n):
        recs[i] = dict(
            dataset=rng.choice(datasets),
            period=rng.choice(periods),
            first_name=rng.choice(firsts),
            middle=rng.choice(mids),
            last_name=rng.choice(lasts),
            dob=rng.choice(dobs),
            byear=rng.choice(byears),
            ssn_digits=rng.choice(ssns),
            zipcode=rng.choice(zips),
            city=rng.choice(cities),
            sex=rng.choice(sexes),
            # a few dup-twin base_rid collisions on purpose
            base_rid=i if rng.random() > 0.1 else max(0, i - 1),
        )
    return recs


def _pool_pairs(n_records, k=6000, seed=11):
    rng = random.Random(seed)
    seen = set()
    out = []
    while len(out) < k:
        a, b = rng.randrange(n_records), rng.randrange(n_records)
        if a == b or (a, b) in seen:
            continue
        seen.add((a, b))
        out.append((a, b))
    return out


# --------------------------------------------------------------------------
# boundary grid: values on both sides of the SSN near (<= 2 edits) and
# conflict (> 4) thresholds, last name 0.85, birth year agree (<= 2) and
# conflict (> 5), with many tier-4 (null dob) pairs — shifting any one of
# those thresholds by one step changes decisions on it
# --------------------------------------------------------------------------

# SSNs 0/2/3/4/5 edits from the first, and one unrelated
_BOUNDARY_SSNS = ["123456789", "123456700", "123456000", "123450000", "123400000", "987654321"]
# last-name JW against SMITH: SMOOT 0.787 (< 0.80), SMIRK 0.813 (in
# [0.80, 0.85)), SMYTHE 0.858, SMITHE 0.967 (>= 0.95)
_BOUNDARY_POOLS = dict(
    dataset=["census", "w2", "ssa"],
    period=["2020", "2030", None],
    first_name=[None, None, "WILLIAM", "WILLIAM", "WILLIAN", "MARY"],
    middle=[None, "J", "K"],
    last_name=[None, "SMITH", "SMITH", "SMITHE", "SMYTHE", "SMIRK", "SMOOT"],
    # dob null on one side (tier 4) on ~60% of pairs; dob sims 1.0
    # (equal or month/day swap), 0.875 and 0.75
    dob=[None, None, None, "19800102", "19800102", "19800201", "19800103", "19800312"],
    # birth years 1, 2, 3, 4, 5 and 6 apart
    byear=["1980", "1982", "1983", "1985", "1986"],
    ssn_digits=[None, None, *_BOUNDARY_SSNS],
    zipcode=[None, "99501", "99502"],
    city=[None, "ANCHORAGE"],
    sex=[None, "M", "F"],
)


def _boundary_records(n=300, seed=8):
    rng = random.Random(seed)
    recs = {}
    for i in range(n):
        recs[i] = {f: rng.choice(pool) for f, pool in _BOUNDARY_POOLS.items()}
        recs[i]["base_rid"] = i if rng.random() > 0.1 else max(0, i - 1)
    return recs


GRIDS = {
    "adversarial": lambda: (_pool_records(), _pool_pairs(400)),
    "boundary": lambda: (_boundary_records(), _pool_pairs(300, k=6000, seed=13)),
}


@pytest.mark.parametrize("grid", list(GRIDS))
def test_regimes_match_oracle_on_grid(spark, grid):
    recs, pairs = GRIDS[grid]()
    want = _check_regimes_against_oracle(spark, recs, pairs)
    assert want, "the grid must produce matches"


# --------------------------------------------------------------------------
# hand-picked edge rows: nulls each side, empty strings, equal,
# case-differing, nickname family pairs, month/day-swapped dob, near/far
# ssn, non-ascii names (exercises the vectorized-lev ascii fallback)
# --------------------------------------------------------------------------

_EDGE_FIELDS = ["first_name", "last_name", "dob", "ssn_digits", "zipcode", "city", "sex", "middle"]


def _rows():
    return [
        ("a1", "b1", "WILLIAM", "BILL", "SMITH", "SMYTH", "19800102", "19800201", "123456789", "123456780", "99501", "99501", "ANCHORAGE", "ANCHORAGE", "M", "M", "J", "J"),
        ("a2", "b2", None, "MARY", "JONES", None, "19900515", "19900515", None, "987654321", "10001", "10002", "NYC", "NYC", "F", "F", None, "K"),
        ("a3", "b3", "", "", "LEE", "LEE", "", "", "", "", "", "", "", "", "", "", "", ""),
        ("a4", "b4", "JOSÉ", "JOSE", "GARCÍA", "GARCIA", "19751231", "19753112", "111223333", "999887777", "77001", "77001", "HOUSTON", "HOUSTON", "M", "F", "A", "B"),
        ("a5", "b5", "KATHERINE", "KATY", "O'BRIEN", "OBRIEN", "20000229", "20000229", "555443333", "555443333", "60601", "60601", "CHICAGO", "CHICAGO", "F", "F", "R", "R"),
        ("a6", "b6", "BOB", "ROBERT", "BROWN", "BRAUN", "19651111", "19651111", None, None, "30301", None, "ATLANTA", "ATL", "M", "M", None, None),
    ]


def _edge_records():
    """(recs, pairs, keys): the edge rows as int-id records 2i / 2i+1."""
    recs, pairs, keys = {}, [], []
    for i, row in enumerate(_rows()):
        for side, rid in ((0, 2 * i), (1, 2 * i + 1)):
            vals = dict(zip(_EDGE_FIELDS, row[2 + side :: 2]))
            recs[rid] = dict(
                vals, dataset=("census", "w2")[side], period="2020",
                byear=vals["dob"][:4] if vals["dob"] else None, base_rid=rid,
            )
        pairs.append((2 * i, 2 * i + 1))
        keys.append((row[0], row[1]))
    return recs, pairs, keys


def test_regimes_match_oracle_on_edge_rows(spark):
    recs, pairs, _ = _edge_records()
    _check_regimes_against_oracle(spark, recs, pairs)


def test_engine_known_values():
    recs, pairs, keys = _edge_records()
    sims, _ = _engine_sims(recs, pairs)
    a = {k: {f: _null(sims[f][i]) for f in SIMS} for i, k in enumerate(keys)}
    # equal non-empty strings -> 1.0; both-empty names -> 0.0
    assert a[("a3", "b3")]["first_name"] == 0.0
    assert a[("a3", "b3")]["last_name"] == 1.0
    # both-empty ssn mirrors Spark's null for 1 - lev/0
    assert a[("a3", "b3")]["ssn_digits"] is None
    # month/day swap is an exact dob match
    assert a[("a4", "b4")]["dob"] == 1.0
    assert a[("a1", "b1")]["dob"] == 1.0
    # nickname family (WILLIAM/BILL) >= the 0.93 family floor
    assert a[("a1", "b1")]["first_name"] >= 0.93
    # null on either side -> null sim
    assert a[("a2", "b2")]["first_name"] is None
    assert a[("a6", "b6")]["middle"] is None


def test_dob_and_ssn_sims_equal_spark_levenshtein(spark):
    """The engine's dob/ssn sims (vectorized numpy Wagner-Fischer with a
    python fallback for non-ascii rows) against Spark's built-in
    levenshtein on the same rows."""
    blank = dict.fromkeys(FIELD_TYPES)
    # non-ascii digit strings take the python fallback
    wide_digits = (
        {0: {**blank, "dob": "1980０102", "ssn_digits": "12345６789"},
         1: {**blank, "dob": "19800102", "ssn_digits": "123456789"}},
        [(0, 1)],
    )
    rows = []
    for recs, pairs in (_edge_records()[:2], (_pool_records(), _pool_pairs(400, k=2000)), wide_digits):
        sims, _ = _engine_sims(recs, pairs)
        for i, (l, r) in enumerate(pairs):
            rows.append((
                recs[l]["dob"], recs[r]["dob"], recs[l]["ssn_digits"], recs[r]["ssn_digits"],
                _null(sims["dob"][i]), _null(sims["ssn_digits"][i]),
            ))
    df = spark.createDataFrame(
        rows, "l_dob string, r_dob string, l_ssn string, r_ssn string, dob double, ssn double"
    )
    a, b = F.col("l_ssn"), F.col("r_ssn")
    max_len = F.greatest(F.length(a), F.length(b))
    ssn_ref = F.when(a.isNull() | b.isNull(), None).otherwise(
        F.when(max_len > 0, F.lit(1.0) - F.levenshtein(a, b).cast("double") / max_len)
    )
    ref = df.select(
        "dob", "ssn",
        dob_similarity(F.col("l_dob"), F.col("r_dob")).alias("dob_ref"),
        ssn_ref.alias("ssn_ref"),
    ).collect()
    assert len(ref) > 2000
    for r in ref:
        assert r["dob"] == r["dob_ref"], r
        assert r["ssn"] == r["ssn_ref"], r


# --------------------------------------------------------------------------
# resolve() on a real noised input
# --------------------------------------------------------------------------


def test_resolve_scored_equals_oracle(spark):
    """resolve()'s ``scored`` rows equal the oracle's decisions over
    resolve()'s own ``pairs`` (the e2e recipe at reduced scale)."""
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import ResolveConfig, normalize_records, resolve

    pop = synth.simulants(spark, 800, seed=21)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=8)
    nc = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={
            "zipcode": "mailing_address_zipcode",
            "city": "mailing_address_city",
            "state": "mailing_address_state",
        },
        ref_year=2020,
    )
    rcfg = ResolveConfig()
    out = resolve(spark, nc.unionByName(nw).localCheckpoint(), rcfg)
    recs = {
        r["record_id"]: r.asDict()
        for r in out["records"].select("record_id", *scoring.LOOKUP_FIELDS).collect()
    }
    pairs = [(r["id_l"], r["id_r"]) for r in out["pairs"].collect()]
    got = _match_set(out["scored"])
    assert got and got == _oracle_matches(spark, recs, pairs, rcfg.threshold)


def test_scratch_lookup_removed_on_every_branch(spark, tmp_path, monkeypatch):
    """A parquet-regime call followed by an IPC-regime call leaves no
    scratch lookup directory behind."""
    monkeypatch.setenv("PP_FUSED_LOOKUP_DIR", str(tmp_path))
    recs, pairs, _ = _edge_records()
    records = spark.createDataFrame(
        [(i, *[recs[i][f] for f in FIELD_TYPES]) for i in sorted(recs)], RECORD_SCHEMA
    )
    pair_df = spark.createDataFrame(pairs, "id_l long, id_r long")
    scoring.match_pairs(pair_df, records, scoring.SMALL_LOOKUP_MAX_ROWS + 1).count()
    assert len(list(tmp_path.glob("pp_fused_rec_*"))) == 1
    scoring.match_pairs(pair_df, records, scoring.SMALL_LOOKUP_MAX_ROWS).count()
    assert not list(tmp_path.glob("pp_fused_rec_*"))
    assert scoring._LIVE_REC_DIR is None
