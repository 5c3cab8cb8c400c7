"""Noise-level proportion guard (reference
configuration/validator.py:258-339): configured levels above the max
achievable proportion for the queried (dataset, state, year) slice must
warn — and defaults must not."""

import os
import warnings

import pytest

from pseudopeople_spark import datasets as D
from pseudopeople_spark.config import get_config
from pseudopeople_spark.proportions import validate_noise_level_proportions

SAMPLES = "/root/reference/src/pseudopeople/data/sample_datasets"


def _require_samples():
    """Skip, naming the path, where the reference's shipped sample
    datasets are not installed."""
    if not os.path.isdir(SAMPLES):
        pytest.skip(f"reference sample datasets not found at {SAMPLES}")


# (column, noise_type, proportion) of a census RI/2020 slice in the
# reference's metadata_proportions.csv layout: every column-noise type of
# the default census config, plus the two guardian-duplication row-noise
# groups (column empty). The use_nickname and guardian values are the
# RI/2020 proportions quoted in test_excessive_levels_warn_per_slice;
# the rest are illustrative eligibility shares.
_PROPORTIONS = {"first_name": {"use_nickname": 0.602473}}
_GUARDIAN_ROWS = {
    "row_probability_in_households_under_18": 0.134586,
    "row_probability_in_college_group_quarters_under_24": 0.786575,
}


def _write_metadata(root):
    """A small metadata_proportions.csv under ``root`` covering the
    default census noise types for RI/2020, with a decoy USA row that
    would warn if the slice were ignored."""
    import csv

    rows = []
    for col, types in get_config()["decennial_census"]["column_noise"].items():
        for noise_type in types:
            p = _PROPORTIONS.get(col, {}).get(noise_type, 0.5)
            rows.append(("decennial_census", "RI", 2020, col, noise_type, p))
    rows += [("decennial_census", "RI", 2020, "", t, p) for t, p in _GUARDIAN_ROWS.items()]
    rows.append(("decennial_census", "USA", 2020, "first_name", "use_nickname", 0.001))
    with open(root / "metadata_proportions.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["dataset", "state", "year", "column", "noise_type", "proportion"])
        w.writerows(rows)
    return str(root)


def test_defaults_do_not_warn(tmp_path):
    source = _write_metadata(tmp_path)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        msgs = validate_noise_level_proportions(source, D.DECENNIAL_CENSUS, get_config(), "RI", 2020)
    assert msgs == []
    # the fixture is read: one level above its proportion warns
    cfg = get_config({
        "decennial_census": {"column_noise": {"first_name": {"use_nickname": {"cell_probability": 0.7}}}}
    })
    with pytest.warns(UserWarning, match="use_nickname"):
        msgs = validate_noise_level_proportions(source, D.DECENNIAL_CENSUS, cfg, "RI", 2020)
    assert len(msgs) == 1


def test_excessive_levels_warn_per_slice():
    _require_samples()
    cfg = get_config({
        "decennial_census": {
            "row_noise": {
                "duplicate_with_guardian": {"row_probability_in_households_under_18": 0.2}
            },
            "column_noise": {"first_name": {"use_nickname": {"cell_probability": 0.7}}},
        }
    })
    with pytest.warns(UserWarning):
        msgs = validate_noise_level_proportions(SAMPLES, D.DECENNIAL_CENSUS, cfg, "RI", 2020)
    # RI/2020 slice: under-18 household proportion 0.134586 < 0.2 and
    # first_name nickname proportion 0.602473 < 0.7 — both flagged;
    # college GQ (0.786575) and copy_from_household_member stay quiet
    assert len(msgs) == 2
    assert any("row_probability_in_households_under_18" in m for m in msgs)
    assert any("use_nickname" in m and "first_name" in m for m in msgs)


def test_multi_state_default_falls_back_to_usa():
    _require_samples()
    cfg = get_config({
        "decennial_census": {
            "column_noise": {"first_name": {"use_nickname": {"cell_probability": 0.99}}}
        }
    })
    # no state filter: the census slice spans 52 states -> USA aggregate
    msgs = validate_noise_level_proportions(SAMPLES, D.DECENNIAL_CENSUS, cfg, None, 2020)
    assert any("USA" in m for m in msgs)


def test_missing_metadata_is_silent(tmp_path):
    cfg = get_config()
    assert validate_noise_level_proportions(str(tmp_path), D.DECENNIAL_CENSUS, cfg, "RI", 2020) == []


def test_guard_fires_through_generate_api(spark):
    _require_samples()
    from pseudopeople_spark.api import generate_decennial_census

    # the shipped sample extract is all-WA; filter and slice on WA
    # (use_nickname max proportion there: 0.594312)
    with pytest.warns(UserWarning, match="use_nickname"):
        out = generate_decennial_census(
            spark,
            source=f"{SAMPLES}/decennial_census",
            seed=5,
            year=2020,
            state="WA",
            config={
                "decennial_census": {
                    "column_noise": {"first_name": {"use_nickname": {"cell_probability": 0.7}}}
                }
            },
        )
    # noising proceeds (the operator scaling saturates at the achievable max)
    assert out.count() > 0
