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


def test_defaults_do_not_warn():
    cfg = get_config()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        msgs = validate_noise_level_proportions(SAMPLES, D.DECENNIAL_CENSUS, cfg, "RI", 2020)
    assert msgs == []


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
