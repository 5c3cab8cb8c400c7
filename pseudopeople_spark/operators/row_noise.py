"""Row-noise operators — cardinality-changing transforms
(SURVEY.md §2.B; reference ``src/pseudopeople/noise_functions.py:33-303``).

All row selection is CRN-keyed on the stable record key — NEVER
``df.sample()`` (partition-dependent) — matching the reference's
shard-count-invariance contract
(``tests/integration/test_interface.py:90-153``).
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pseudopeople_spark.crn import hash_u01

U01 = Callable[[Column, int, str], Column]

# Demographic non-response model constants — the reference's published
# values (constants/data_values.py:8-45): base + race additive +
# sex×age-bin additive, clipped to [0,1]; CPS gets an overall +0.276
# (noise_functions.py:124-126).
DNR_BASE = 0.0024
DNR_RACE_ADJ: "dict[str, float]" = {
    "AIAN": 0.0067,
    "Asian": -0.0286,
    "Black": 0.0306,
    "Latino": 0.0475,
    "Multiracial or Other": 0.041,
    "NHOPI": -0.0152,
    "White": -0.0188,
}
# (sex, age_lo, age_hi_exclusive) -> additive; bins [0,5,10,18,30,50,125)
DNR_SEX_AGE_ADJ: "list[tuple[str, int, int, float]]" = [
    ("Female", 0, 5, 0.0255), ("Female", 5, 10, -0.0014), ("Female", 10, 18, -0.0003),
    ("Female", 18, 30, 0.0074), ("Female", 30, 50, -0.0034), ("Female", 50, 125, -0.0287),
    ("Male", 0, 5, 0.0255), ("Male", 5, 10, -0.0014), ("Male", 10, 18, -0.0003),
    ("Male", 18, 30, 0.0201), ("Male", 30, 50, 0.0281), ("Male", 50, 125, -0.0079),
]
DNR_DEFAULT_LEVEL = 0.0145
CPS_NONRESPONSE_ADDITIVE = 0.276  # noise_functions.py:124-126
# Per-dataset defaults, used as both the baseline value and the scaling
# denominator (data_values.py:41-45).
DNR_DEFAULT_LEVELS: "dict[str, float]" = {
    "decennial_census": 0.0145,
    "american_community_survey": 0.0145,
    "current_population_survey": 0.2905,
}


def omit_rows(
    df: DataFrame, key_col: str, p: float = 0.005, seed: int = 0, u01: U01 = hash_u01
) -> DataFrame:
    """Uniform random row deletion (reference ``omit_rows``,
    noise_functions.py:33-59). Key-deterministic hash filter — a single
    columnar pass, no shuffle."""
    return df.where(u01(F.col(key_col), seed, "omit_row") >= p)


def do_not_respond(
    df: DataFrame,
    key_col: str,
    configured_level: float = DNR_DEFAULT_LEVEL,
    default_level: float = DNR_DEFAULT_LEVEL,
    seed: int = 0,
    sex_col: str = "sex",
    age_col: str = "age",
    race_col: str = "race_ethnicity",
    oversample_adjust: bool = False,
    cps_additive: float = 0.0,
    u01: U01 = hash_u01,
) -> DataFrame:
    """Demographic non-response (reference ``apply_do_not_respond``,
    noise_functions.py:99-142): per-row probability = clip_[0,1](base +
    race additive + sex×age-bin additive) [+ 0.276 for CPS], scaled by
    configured/default (default 0.0145 census/ACS, 0.2905 CPS); then the
    ACS/CPS oversampling transform 0.5 + p/2. Realized as nested
    ``when`` chains over the tiny lookup tables — pure JVM expressions,
    no join needed (the reference's pd.cut age-binning collapses to a
    CASE chain)."""
    race_expr: Column = F.lit(0.0)
    for race, adj in DNR_RACE_ADJ.items():
        race_expr = F.when(F.col(race_col) == race, F.lit(adj)).otherwise(race_expr)
    sexage_expr: Column = F.lit(0.0)
    age = F.col(age_col).cast("bigint")
    for sex, lo, hi, adj in DNR_SEX_AGE_ADJ:
        sexage_expr = F.when(
            (F.col(sex_col) == sex) & (age >= lo) & (age < hi), F.lit(adj)
        ).otherwise(sexage_expr)
    p = F.least(F.greatest(F.lit(DNR_BASE) + race_expr + sexage_expr, F.lit(0.0)), F.lit(1.0))
    if cps_additive:
        p = p + F.lit(cps_additive)
    p = p * F.lit(configured_level / default_level)
    if oversample_adjust:
        p = F.lit(0.5) + p / 2
    p = F.least(p, F.lit(1.0))
    return df.where(u01(F.col(key_col), seed, "do_not_respond") >= p)


def duplicate_rows(
    df: DataFrame, key_col: str, p: float = 0.05, seed: int = 0, u01: U01 = hash_u01
) -> DataFrame:
    """Uniform row duplication — the reference's commented-out stub
    (noise_functions.py:145-158, 'todo actually duplicate rows'),
    implemented for parity behind this explicit call.

    The duplicate's key gets a ``_dup2`` suffix (mirroring
    duplicate_with_guardian's ``_dup``): emitting two rows under ONE
    record_id would silently break every downstream key consumer — CRN
    draws would noise the twins identically, key joins would fan out,
    and resolve()'s int64 surrogate ids require unique record ids."""
    base = df.withColumn(key_col, F.col(key_col).cast("string"))  # deterministic output type
    dupes = base.where(u01(F.col(key_col), seed, "duplicate_row") < p)
    dupes = dupes.withColumn(key_col, F.concat(F.col(key_col), F.lit("_dup2")))
    return base.unionByName(dupes)


# Reference constants/noise_type_metadata.py:4-14 — the columns a
# duplicate takes from its guardian's row (address block + housing type,
# household id and year).
GUARDIAN_DUPLICATION_ADDRESS_COLUMNS = [
    "street_number", "street_name", "unit_number", "city", "state", "zipcode",
    "housing_type", "household_id", "year",
]
# Reference constants/noise_type_metadata.py:34-42 — the duplicated
# row's relationship is remapped from the (copied) guardian housing type.
HOUSING_TYPE_RELATIONSHIP_MAP = {
    "Carceral": "Institutionalized group quarters population",
    "Nursing home": "Institutionalized group quarters population",
    "Other institutional": "Institutionalized group quarters population",
    "College": "Noninstitutionalized group quarters population",
    "Military": "Noninstitutionalized group quarters population",
    "Other noninstitutional": "Noninstitutionalized group quarters population",
    "Household": "Other relative",
}


def duplicate_with_guardian(
    df: DataFrame,
    key_col: str,
    address_columns: Sequence[str] = None,
    p_under_18: float = 0.02,
    p_college: float = 0.05,
    seed: int = 0,
    guardian_cols: "tuple[str, str]" = ("guardian_1", "guardian_2"),
    simulant_col: str = "simulant_id",
    age_col: str = "age",
    housing_col: str = "housing_type",
    relationship_col: str = "relationship_to_reference_person",
    household_col: str = "household_id",
    year_col: str = "year",
    u01: U01 = hash_u01,
) -> DataFrame:
    """Duplicate dependents at their guardian's address (reference
    ``duplicate_with_guardian``, noise_functions.py:161-303; copied
    column list constants/noise_type_metadata.py:4-14).

    Reference semantics reproduced exactly:
      * eligible groups — age<18 with housing_type=='Household'
        (p_under_18) and age<24 with housing_type=='College'
        (p_college), guardian_1 non-null in both;
      * guardians are joined on ``(guardian_k, year)`` — multi-year
        extracts match the guardian's SAME-year row
        (noise_functions.py:189-207);
      * "lives elsewhere" = guardian's household_id differs
        (noise_functions.py:243-248);
      * when BOTH guardians live elsewhere the copied guardian is a
        seeded 50/50 choice, otherwise the one that differs;
      * the duplicate takes the guardian's address block + housing type
        + household id (+year, a join-key no-op) and its
        ``relationship_to_reference_person`` is remapped from the
        COPIED housing type (noise_type_metadata.py:34-42);
      * max one duplicate per row; duplicates are appended.

    Plan shape: filter → TWO left equi-joins against the guardian
    projection (broadcast when small, AQE otherwise) → seeded choice →
    ``unionByName``. No driver-side loops."""
    cols = df.columns
    copy_cols = [c for c in (address_columns or GUARDIAN_DUPLICATION_ADDRESS_COLUMNS) if c in cols]
    g1, g2 = guardian_cols
    age = F.col(age_col).cast("bigint")
    housing = F.col(housing_col) if housing_col in cols else F.lit("Household")
    in_household = (age < 18) & (housing == "Household")
    in_college = (age < 24) & (housing == "College")
    dependents = df.where((in_household | in_college) & F.col(g1).isNotNull())

    # Selection draw BEFORE the guardian joins: the Bernoulli draw
    # depends only on (key, age, housing) — never on join results — so
    # filtering here is exactly the conjunction the reference applies
    # after the merge, while the joins now probe ~p of the dependents
    # (2-5%) instead of all of them. The guardian build side is
    # unchanged; the probe-side shuffle shrinks ~20-50x.
    p_row = F.when(in_college, F.lit(p_college)).otherwise(F.lit(p_under_18))
    # per-group decision keys, like the reference's per-group streams
    u_noise = F.when(
        in_college, u01(F.col(key_col), seed, "duplicate_with_guardian_college")
    ).otherwise(u01(F.col(key_col), seed, "duplicate_with_guardian_households"))
    dependents = dependents.where(u_noise < p_row)

    has_year = year_col in cols
    has_hh = household_col in cols
    # the guardian's household id rides along for the "lives elsewhere"
    # test even when the caller copies a narrower column list
    side_cols = [household_col] if (has_hh and household_col not in copy_cols) else []
    # year is the join key — its alias already carries it, and "copying"
    # it is a no-op (join equality), so keep it out of the copy list
    proj_cols = [c for c in copy_cols + side_cols if c != year_col]
    guardians = df.select(
        F.col(simulant_col).alias("_g_sid"),
        *([F.col(year_col).alias("_g_year")] if has_year else []),
        *[F.col(c).alias(f"_g_{c}") for c in proj_cols],
    )
    # Semi-join pruning BEFORE the defensive dedup (guide §3.2): only
    # guardians referenced by a SELECTED dependent can contribute to
    # the join, and the selection draw above thins dependents to ~p of
    # the eligible rows — so the guardian side shrinks from the full
    # record count to ~2x the selected count. The dedup's full-table
    # shuffle (the dominant cost of this operator at 1M rows) collapses
    # to a broadcast semi filter + a small shuffle. Left joins on a
    # semi-pruned build side produce identical rows: pruned-away
    # guardians could only have matched unselected dependents.
    dep_keys = dependents.select(
        F.explode(F.array(F.col(g1), F.col(g2))).alias("_g_sid")
    ).where(F.col("_g_sid").isNotNull())
    guardians = guardians.join(F.broadcast(dep_keys), "_g_sid", "left_semi")
    # A guardian appears once per (simulant, year) in a well-formed
    # extract; dedup defensively so one dependent row can't fan out.
    guardians = guardians.dropDuplicates(["_g_sid"] + (["_g_year"] if has_year else []))

    def join_one(base: DataFrame, gcol: str, prefix: str) -> DataFrame:
        g = guardians.select(
            F.col("_g_sid").alias(f"{prefix}_sid"),
            *([F.col("_g_year").alias(f"{prefix}_year")] if has_year else []),
            *[F.col(f"_g_{c}").alias(f"{prefix}_{c}") for c in proj_cols],
        )
        cond = base[gcol] == g[f"{prefix}_sid"]
        if has_year:
            cond = cond & (base[year_col] == g[f"{prefix}_year"])
        return base.join(g, cond, "left")

    merged = join_one(join_one(dependents, g1, "_g1"), g2, "_g2")

    if has_hh:
        def differs(prefix: str):
            gh = F.col(f"{prefix}_{household_col}")
            # null-safe inequality: the reference compares in pandas where
            # NaN != value is True (noise_functions.py:243-248), so a
            # dependent with a NULL household id living apart from a
            # guardian IS eligible — Spark's null-propagating != would
            # silently exclude those rows
            return gh.isNotNull() & ~F.col(household_col).eqNullSafe(gh)
    else:  # fallback when the extract carries no household id: any copied column differs
        def differs(prefix: str):
            any_neq = F.lit(False)
            for c in copy_cols:
                any_neq = any_neq | ~F.col(c).eqNullSafe(F.col(f"{prefix}_{c}"))
            return F.col(f"{prefix}_sid").isNotNull() & any_neq

    g1_diff, g2_diff = differs("_g1"), differs("_g2")
    u_choice = u01(F.col(key_col), seed, "dwg_guardian_choice")
    chosen = (
        F.when(g1_diff & g2_diff, F.when(u_choice < 0.5, F.lit("_g1")).otherwise(F.lit("_g2")))
        .when(g1_diff, F.lit("_g1"))
        .when(g2_diff, F.lit("_g2"))
    )
    # (u_noise < p_row) already applied pre-join above
    selected = merged.withColumn("_copy_from", chosen).where(
        F.col("_copy_from").isNotNull()
    )

    def copied(c: str):
        return F.when(F.col("_copy_from") == "_g1", F.col(f"_g1_{c}")).otherwise(F.col(f"_g2_{c}"))

    dup_cols = []
    for c in cols:
        if c == relationship_col:
            src_housing = copied(housing_col) if housing_col in copy_cols else housing
            remap = F.lit(None).cast("string")
            for ht, rel in HOUSING_TYPE_RELATIONSHIP_MAP.items():
                remap = F.when(src_housing == ht, F.lit(rel)).otherwise(remap)
            dup_cols.append(remap.alias(c))
        elif c in copy_cols:
            dup_cols.append(copied(c).alias(c))
        elif c == key_col:
            dup_cols.append(F.concat(F.col(key_col).cast("string"), F.lit("_dup")).alias(c))
        else:
            dup_cols.append(F.col(c))
    duplicates = selected.select(*dup_cols)
    return df.unionByName(duplicates)
