"""Common-random-numbers (CRN) for deterministic noise and sampling.

The reference achieves reproducibility through vivarium's
``RandomnessStream`` — a hash of (seed, decision_key, row index) mapped
to a uniform draw (``/root/reference/src/pseudopeople/utilities.py:18-25``).
Its hardest-won invariant is that outputs do not depend on how data is
sharded (``tests/integration/test_interface.py:90-153``).

We reproduce the *contract*, not the bit pattern (the reference's own
tests are distributional, not bit-exact — SURVEY.md §5):

    u = hash_u01(seed, decision_key, record_key)  in [0, 1)

keyed ONLY by stable record identity — never ``rand()``, never
``spark_partition_id()`` — so results are invariant to partitioning,
AQE re-planning, and executor count.

Three implementations, one contract:

* :func:`hash_u01` — JVM-side ``xxhash64`` (whole-stage codegen'd, the
  production path).
* :func:`portable_u01` / :func:`portable_u01_sql` — a Lehmer double-step
  LCG on an int64 key, expressible identically in Spark SQL *and* ANSI
  SQL (DuckDB). Used by the oracle-checked noise queries so the DuckDB
  oracle can replay the exact same draws.
* :func:`splitmix64_u01` — numpy uint64 splitmix64 for per-(row, token)
  draws inside Arrow pandas UDF kernels (token corruption), fully
  vectorized, no per-row Generator objects.
"""

from __future__ import annotations

import operator

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO40 = float(2**40)

# Lehmer / MINSTD parameters: all intermediates stay < 2**47 for keys
# < 2**31, so the expression is safe under Spark's ANSI int64 overflow
# checking and evaluates identically in DuckDB.
_MINSTD_A = 48271
_MINSTD_M = 2147483647  # 2**31 - 1


def fold_salt64(seed: int, decision: str) -> int:
    """Fold (seed, decision) into ONE signed-int64 literal at plan-build
    time (FNV-1a). The previous draw shape hashed the two components as
    per-row STRING literals — xxhash64 walked ~30 literal bytes for
    every draw of every row; with ~60 draws/row in the census noise
    plan that was the single largest expression cost (measured 3.5x on
    a 40-draw microbench). Folding them driver-side leaves the per-row
    work at one fixed-width hash.

    The folded text is ``"<seed>|<decision>"``. The seed must be an
    integer (``operator.index``; a str raises TypeError): its decimal
    form has no ``|``, so the first ``|`` is the boundary and no two
    (seed, decision) inputs fold the same text."""
    acc = 0xCBF29CE484222325
    for ch in f"{operator.index(seed)}|{decision}":
        acc = ((acc ^ ord(ch)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return acc - 2**64 if acc >= 2**63 else acc


def hash_u01(key: Column | str, seed: int, decision: str) -> Column:
    """Uniform [0,1) draw keyed by (seed, decision, record key).

    JVM-side: xxhash64 over (folded salt, key), low 40 bits → double.
    Stable under repartitioning because the only inputs are literals and
    the record key column. (seed, decision) are folded into one int64
    at plan time (:func:`fold_salt64`); the key column is hashed in its
    native type — callers with a string id column that draw MANY times
    per row should pre-hash it once (``xxhash64(id)``) and pass the
    int64 (see noise.noise_dataset's ``__crn64``)."""
    key = F.col(key) if isinstance(key, str) else key
    h = F.xxhash64(F.lit(fold_salt64(seed, decision)).cast("bigint"), key)
    return F.pmod(h, F.lit(2**40)).cast("double") / F.lit(_TWO40)


def _mix_decision(seed: int, decision: str) -> int:
    """Fold (seed, decision) into a small positive int64 constant."""
    acc = int(seed) % _MINSTD_M
    for ch in decision:
        acc = (acc * 31 + ord(ch)) % _MINSTD_M
    # range [1, M-1]: never 0 (the LCG's fixed point) AND never M itself
    # (acc == M-1 would give acc+1 == M ≡ 0 mod M, degenerating x1 to
    # x0*A%M — keys ≡ 0 mod M would then draw u=0.0 forever)
    return acc % (_MINSTD_M - 1) + 1


def portable_u01(key: Column | str, seed: int, decision: str) -> Column:
    """Uniform [0,1) draw computable identically in Spark and DuckDB.

    key must be a non-negative integer column. Two Lehmer steps:
        x1 = ((key % M) * A + d) % M ;  x2 = (x1 * A) % M ;  u = x2 / M
    """
    key = F.col(key) if isinstance(key, str) else key
    d = _mix_decision(seed, decision)
    x0 = F.pmod(key.cast("bigint"), F.lit(_MINSTD_M))
    x1 = F.pmod(x0 * F.lit(_MINSTD_A) + F.lit(d), F.lit(_MINSTD_M))
    x2 = F.pmod(x1 * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    return x2.cast("double") / F.lit(float(_MINSTD_M))


def portable_u01_sql(key_expr: str, seed: int, decision: str) -> str:
    """ANSI-SQL text of :func:`portable_u01` for the DuckDB oracle."""
    d = _mix_decision(seed, decision)
    x1 = f"((({key_expr}) % {_MINSTD_M}) * {_MINSTD_A} + {d}) % {_MINSTD_M}"
    x2 = f"(({x1}) * {_MINSTD_A}) % {_MINSTD_M}"
    return f"(CAST({x2} AS DOUBLE) / {_MINSTD_M}.0)"


def portable_u01_py(key: int, seed: int, decision: str) -> float:
    """Scalar Python replica of :func:`portable_u01` — same two Lehmer
    steps, same decision mixing. Lets a procedural Arrow kernel (the
    token-corruption scan) make draws a SQL oracle can replay exactly:
    the kernel calls this per (row, position) and the oracle unrolls
    the identical arithmetic per CTE step."""
    d = _mix_decision(seed, decision)
    x1 = ((int(key) % _MINSTD_M) * _MINSTD_A + d) % _MINSTD_M
    x2 = (x1 * _MINSTD_A) % _MINSTD_M
    return x2 / _MINSTD_M


# --------------------------------------------------------------------------
# numpy-side stateless RNG for Arrow kernels
# --------------------------------------------------------------------------

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = (x + _SM_GAMMA).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        z = z ^ (z >> np.uint64(31))
    return z


def key64(parts: "list[np.ndarray | int]") -> np.ndarray:
    """Combine integer key parts into one uint64 stream key (vectorized)."""
    acc = np.uint64(0)
    with np.errstate(over="ignore"):
        for p in parts:
            arr = np.asarray(p, dtype=np.uint64)
            acc = _splitmix64(np.asarray(acc, dtype=np.uint64) ^ (arr * _SM_GAMMA))
    return acc


def splitmix64_u01(parts: "list[np.ndarray | int]") -> np.ndarray:
    """Vectorized uniform [0,1) from integer key parts (numpy, stateless)."""
    z = key64(parts)
    return (z >> np.uint64(11)).astype(np.float64) * (1.0 / float(1 << 53))
