"""Shared test fixtures. One SparkSession per test run (JVM startup is
~10s); every test keys its randomness off explicit seeds, so sharing a
session never leaks state between tests."""

from __future__ import annotations

import math
import os

import pytest

from pseudopeople_spark.session import get_spark
from tests.fuzzy import fuzzy_assert_proportion


@pytest.fixture(scope="session")
def spark():
    # one core per task slot and one shuffle partition per core, from
    # SPARK_GRAFT_CPUS or the cores this process may run on
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark("tests", master=f"local[{cpus}]", shuffle_partitions=cpus)
    yield s
    s.stop()


def assert_proportion(observed: int, total: int, expected_p: float, label: str = "", slack_sigmas: float = 4.0):
    """Stochastic-rate assertion, now a Bayesian fuzzy check with the
    reference's FuzzyChecker semantics (tests/fuzzy.py; spec reference
    tests/conftest.py:68-333, Bayes factor > 100 fails).

    ``slack_sigmas`` > 4 marks call sites whose target is an
    APPROXIMATION of the true expectation (demographic mixes, reflected
    deltas); those translate into the fuzzy check's uncertainty-interval
    form (±slack_sigmas binomial sigmas around the target, floored at a
    tiny relative width), exactly how the reference expresses
    research-derived targets as (2.5th, 97.5th) percentile intervals.
    Exact targets (the default 4.0) use the scalar Binomial null."""
    if slack_sigmas > 4.0 and 0.0 < expected_p < 1.0:
        sigma_p = math.sqrt(expected_p * (1.0 - expected_p) / max(total, 1))
        half = max(slack_sigmas * sigma_p, 0.02 * expected_p)
        lo = max(expected_p - half, 1e-9)
        hi = min(expected_p + half, 1.0 - 1e-9)
        target: "float | tuple[float, float]" = (lo, hi)
    else:
        target = expected_p
    fuzzy_assert_proportion(label or "proportion", observed, total, target)
