"""Interop: generate_* over the REFERENCE's shipped sample parquet —
the first path a real pseudopeople user exercises (timestamp dates,
shadow copy_*/guardian columns, category-decoded strings; reference
interface.py:223-293)."""

import os

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark import datasets as D
from pseudopeople_spark.api import generate_decennial_census, generate_social_security

SAMPLES = "/root/reference/src/pseudopeople/data/sample_datasets"


def _require_samples():
    """Skip, naming the path, where the reference's shipped sample
    datasets are not installed."""
    if not os.path.isdir(SAMPLES):
        pytest.skip(f"reference sample datasets not found at {SAMPLES}")


def test_generate_census_from_reference_sample(spark):
    _require_samples()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SAMPLES}/decennial_census/decennial_census.parquet")
    raw_2020 = raw.where(F.col("year") == 2020)
    out = generate_decennial_census(spark, source=f"{SAMPLES}/decennial_census", seed=5, year=2020)
    out = out.localCheckpoint()

    # schema: exactly the declared census output columns (+ record key)
    assert out.columns == ["record_id"] + D.DECENNIAL_CENSUS.column_names

    # row noise: omission/non-response drop some rows, guardian dup adds a few
    n_raw, n_out = raw_2020.count(), out.count()
    assert 0.90 * n_raw < n_out < 1.02 * n_raw

    # ground-truth columns are NEVER noised: every output simulant_id
    # exists in the raw extract
    raw_sids = raw_2020.select("simulant_id").distinct()
    assert out.join(raw_sids, "simulant_id", "left_anti").count() == 0

    # dates reformatted to zero-padded MM/DD/YYYY strings
    dob = out.where(F.col("date_of_birth").isNotNull()).select("date_of_birth")
    bad = dob.where(~F.col("date_of_birth").rlike(r"^\d{2}/\d{2}/\d{4}$"))
    # swap_month_and_day can produce day>12 in the month slot — still 2/2/4 digits
    assert bad.count() == 0

    # age has no trailing .0
    assert out.where(F.col("age").rlike(r"\.")).count() == 0

    # column noise actually applied: some first names differ from raw
    joined = out.join(
        raw_2020.select("simulant_id", F.col("first_name").alias("raw_first")),
        "simulant_id",
    )
    assert joined.where(
        F.col("first_name").isNotNull() & (F.col("first_name") != F.col("raw_first"))
    ).count() > 0


def test_generate_census_from_sample_is_seed_deterministic(spark):
    _require_samples()
    a = generate_decennial_census(
        spark, source=f"{SAMPLES}/decennial_census", seed=5, year=2020
    ).localCheckpoint()
    b = generate_decennial_census(
        spark, source=f"{SAMPLES}/decennial_census", seed=5, year=2020
    ).localCheckpoint()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = generate_decennial_census(
        spark, source=f"{SAMPLES}/decennial_census", seed=6, year=2020
    ).localCheckpoint()
    assert c.exceptAll(a).count() > 0


def test_generate_ssa_from_reference_sample(spark):
    _require_samples()
    out = generate_social_security(spark, source=f"{SAMPLES}/social_security", seed=5, year=2025)
    out = out.localCheckpoint()
    assert out.columns == ["record_id"] + D.SOCIAL_SECURITY.column_names
    # the year filter applies BEFORE noising (write_wrong_digits may
    # later corrupt year digits, like the reference) — check it on the
    # un-noised output
    from pseudopeople_spark.config import NO_NOISE

    clean = generate_social_security(
        spark, source=f"{SAMPLES}/social_security", seed=5, year=2025, config=NO_NOISE
    ).localCheckpoint()
    assert clean.where(F.substring("event_date", 1, 4).cast("int") > 2025).count() == 0
    # yyyyMMdd strings (swap_month_and_day keeps the 8-digit shape)
    assert clean.where(
        F.col("event_date").isNotNull() & ~F.col("event_date").rlike(r"^\d{8}$")
    ).count() == 0
    # SSA ssn is NEVER noised (reference DEFAULT_NOISE_VALUES)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SAMPLES}/social_security/social_security.parquet")
    raw_ssns = raw.select(F.col("ssn").cast("string").alias("ssn")).distinct()
    assert out.where(F.col("ssn").isNotNull()).join(raw_ssns, "ssn", "left_anti").count() == 0


def test_source_compatibility_validation(spark, tmp_path):
    """Reference-parity source-root validation (reference
    interface.py:validate_source_compatibility:184-213 and its
    test_interface.py failure cases): missing dataset subdir ->
    FileNotFoundError; missing CHANGELOG -> DataSourceError (older
    data); newer / older changelog version -> DataSourceError."""
    from pseudopeople_spark.api import generate_decennial_census
    from pseudopeople_spark.sources.reader import (
        DataSourceError,
        validate_source_compatibility,
    )

    root = tmp_path / "srcroot"
    root.mkdir()

    # no dataset subdirectory at all
    with pytest.raises(FileNotFoundError, match="decennial_census"):
        validate_source_compatibility(str(root), "decennial_census")

    # subdir present, CHANGELOG absent -> "older version" DataSourceError,
    # and the API path raises it before touching parquet
    sub = root / "decennial_census"
    sub.mkdir()
    with pytest.raises(DataSourceError, match="older version"):
        validate_source_compatibility(str(root), "decennial_census")
    with pytest.raises(DataSourceError, match="older version"):
        generate_decennial_census(spark, source=str(root), seed=1, year=2020)

    # newer data version -> upgrade-the-package error
    cl = root / "CHANGELOG.rst"
    cl.write_text("**9.0.0 - 2030-01-01**\n\n - stuff\n")
    with pytest.raises(DataSourceError, match="newer version"):
        validate_source_compatibility(str(root), "decennial_census")

    # older data version -> corrupted / re-download error
    cl.write_text("**0.1.0 - 2020-01-01**\n\n - stuff\n")
    with pytest.raises(DataSourceError, match="corrupted"):
        validate_source_compatibility(str(root), "decennial_census")

    # exactly-compatible version passes and returns the subdir
    cl.write_text("**1.4.2 - 2023-05-24**\n\n - stuff\n")
    assert validate_source_compatibility(str(root), "decennial_census") == str(sub)


# ---------------------------------------------------------------------------
# remaining datasets over the reference's shipped samples (VERDICT r02 #7):
# ACS / CPS exercise the survey_date TIMESTAMP path, WIC the MMddyyyy
# date format. W2 / 1040 ship no sample parquet, so raw-schema extracts
# (timestamp dates, int wages, pandas __index_level_0__, copy_* and
# spouse/dependent shadow columns) are synthesized in-test and fed
# through the same _ingest_extract path (reference interface.py:394-989).
# ---------------------------------------------------------------------------


def _survey_checks(spark, generate, spec, samples_dir, min_keep=0.5):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{samples_dir}/{spec.name}.parquet")
    n_raw = raw.where(F.expr("CAST(survey_date / 1e9 AS TIMESTAMP)").isNotNull()).where(
        F.year(F.expr("CAST(survey_date / 1e9 AS TIMESTAMP)")) == 2020
    ).count()
    out = generate(spark, source=samples_dir, seed=5, year=2020).localCheckpoint()
    assert out.columns == ["record_id"] + spec.column_names
    # do_not_respond + omit_row drop rows; nothing is added. CPS's
    # published non-response model keeps only ~35% (0.2905 base +
    # the 0.5+p/2 oversample transform) — the bound is per-dataset.
    assert min_keep * n_raw < out.count() <= n_raw
    # survey_date -> zero-padded MM/DD/YYYY string of a 2020 date
    sd = out.where(F.col("survey_date").isNotNull())
    assert sd.where(~F.col("survey_date").rlike(r"^\d{2}/\d{2}/2020$")).count() == 0
    # age strings carry no trailing .0
    assert out.where(F.col("age").rlike(r"\.")).count() == 0
    return out


def test_generate_acs_from_reference_sample(spark):
    _require_samples()
    from pseudopeople_spark.api import generate_american_community_survey

    # ACS's oversample-adjusted non-response model EXPECTS keep ~0.49
    # (0.5+p/2 transform): the old 0.5 bound sat ON the mean and only
    # passed by draw luck on the 140-row sample (binomial sd ~0.042);
    # 0.35 is mean - 3sd
    _survey_checks(
        spark, generate_american_community_survey, D.AMERICAN_COMMUNITY_SURVEY,
        f"{SAMPLES}/american_community_survey", min_keep=0.35,
    )


def test_generate_cps_from_reference_sample(spark):
    _require_samples()
    from pseudopeople_spark.api import generate_current_population_survey

    _survey_checks(
        spark, generate_current_population_survey, D.CURRENT_POPULATION_SURVEY,
        f"{SAMPLES}/current_population_survey", min_keep=0.2,
    )


def test_generate_wic_from_reference_sample(spark):
    _require_samples()
    from pseudopeople_spark.api import generate_women_infants_and_children

    out = generate_women_infants_and_children(
        spark, source=f"{SAMPLES}/women_infants_and_children", seed=5, year=2020
    ).localCheckpoint()
    assert out.columns == ["record_id"] + D.WOMEN_INFANTS_AND_CHILDREN.column_names
    assert out.count() > 0
    # WIC reformats dates as compact MMDDYYYY (no separators)
    dob = out.where(F.col("date_of_birth").isNotNull())
    assert dob.where(~F.col("date_of_birth").rlike(r"^\d{8}$")).count() == 0
    assert out.where(F.col("year") != 2020).count() == 0


def _raw_tax_rows(n, year_spread=False):
    """Raw-extract building blocks shared by the W2 / 1040 tests."""
    import datetime as dt

    return [
        {
            "__index_level_0__": i,
            "simulant_id": f"0_{i}",
            "household_id": f"hh_{i // 4}",
            "first_name": "Robert" if i % 3 == 0 else "Mary",
            "middle_initial": "Q",
            "last_name": "Smith",
            "age": 20 + (i % 60),
            "date_of_birth": dt.datetime(1980 + i % 20, 1 + i % 12, 1 + i % 28),
            "copy_age": 30 + (i % 50),
            "copy_date_of_birth": dt.datetime(1950 + i % 20, 1 + i % 12, 1 + i % 28),
            "ssn": f"{100 + i:03d}-22-{1000 + i:04d}",
            "copy_ssn": f"{200 + i:03d}-33-{2000 + i:04d}" if i % 5 else None,
            "mailing_address_street_number": str(100 + i),
            "mailing_address_street_name": "Main St",
            "mailing_address_unit_number": str(i) if i % 3 == 0 else None,
            "mailing_address_city": "Anytown",
            "mailing_address_state": "WA",
            "mailing_address_zipcode": f"{98000 + i % 100:05d}",
            "tax_year": 2019 if (year_spread and i % 10 == 0) else 2020,
        }
        for i in range(n)
    ]


def test_generate_w2_from_raw_extract(spark):
    """W2 wide columns + int wages through _ingest_extract; tax_year
    filter excludes off-year rows BEFORE noising."""
    from pseudopeople_spark.api import generate_taxes_w2_and_1099

    rows = _raw_tax_rows(300, year_spread=True)
    for i, r in enumerate(rows):
        r.update({"employer_id": f"{3000 + i}", "employer_name": "ACME Corp",
                  "wages": 50000 + i, "tax_form": "W2" if i % 2 else "1099"})
    raw = spark.createDataFrame(rows)
    out = generate_taxes_w2_and_1099(spark, source=raw, seed=5, year=2020).localCheckpoint()
    assert out.columns == ["record_id"] + D.TAXES_W2_AND_1099.column_names
    # 30 rows are tax_year 2019 -> filtered; omit_row drops a few more
    assert 240 <= out.count() <= 270
    assert out.where(F.col("tax_year") != 2020).count() == 0
    # wages became strings with no trailing .0
    assert dict(out.dtypes)["wages"] == "string"
    assert out.where(F.col("wages").rlike(r"\.")).count() == 0
    # timestamp dob -> MM/dd/yyyy string
    dob = out.where(F.col("date_of_birth").isNotNull())
    assert dob.where(~F.col("date_of_birth").rlike(r"^\d{2}/\d{2}/\d{4}$")).count() == 0


def test_generate_1040_with_spouse_and_dependent_shadows(spark):
    """1040 spouse/dependent shadow columns ride through ingestion and
    feed copy_from_household_member; shadows are dropped from output."""
    from pseudopeople_spark.api import generate_taxes_1040

    rows = _raw_tax_rows(400)
    for i, r in enumerate(rows):
        r.update({
            "spouse_first_name": "Pat", "spouse_last_name": "Smith",
            "spouse_ssn": f"{400 + i:03d}-55-{4000 + i:04d}",
            "spouse_copy_ssn": f"{500 + i:03d}-66-{5000 + i:04d}",
        })
        for k in range(1, 5):
            r.update({
                f"dependent_{k}_first_name": f"Dep{k}",
                f"dependent_{k}_last_name": "Smith",
                f"dependent_{k}_ssn": f"{600 + i:03d}-7{k}-{6000 + i:04d}",
                f"dependent_{k}_copy_ssn": f"{700 + i:03d}-8{k}-{7000 + i:04d}",
            })
    raw = spark.createDataFrame(rows)
    cfg = {"taxes_1040": {"column_noise": {
        "spouse_ssn": {"copy_from_household_member": {"cell_probability": 0.5}},
        "dependent_1_ssn": {"copy_from_household_member": {"cell_probability": 0.5}},
    }}}
    out = generate_taxes_1040(spark, source=raw, seed=5, year=2020, config=cfg).localCheckpoint()
    assert out.columns == ["record_id"] + D.TAXES_1040.column_names
    assert "spouse_copy_ssn" not in out.columns and "dependent_1_copy_ssn" not in out.columns
    # the copy noise actually drew from the shadow columns
    spouse_copied = out.where(F.col("spouse_ssn").rlike(r"-66-")).count()
    dep_copied = out.where(F.col("dependent_1_ssn").rlike(r"-8")).count()
    assert spouse_copied > 100 and dep_copied > 100
