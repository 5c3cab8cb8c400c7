"""Pairwise scoring and match decision over candidate pairs.

One worker-side Arrow batch function, :func:`match_batches`, scores and
decides every candidate pair:

  * the similarity vector (:func:`_make_sim_engine`): Jaro-Winkler on
    names (nickname-family aware on the first name), month/day-swap
    aware normalized edit distance on the yyyyMMdd dob, normalized edit
    distance on SSN digits, exact-match indicators on the rest;
  * a weighted linear score with null-aware renormalization (missing
    fields redistribute their weight);
  * the tiered match cascade (:func:`cascade_match_mask`).

Only the matched rows cross back to the JVM, in the slim projection the
pipeline checkpoints (``MATCH_COLUMNS``). :func:`match_pairs` picks from
the records count alone how the l_*/r_* fields reach that function:

  * ``n_records <= SMALL_LOOKUP_MAX_ROWS``: the records table ships as
    Arrow IPC bytes inside the task closure (:class:`ArrowIpcLookup`);
  * ``n_records <= LOOKUP_MAX_ROWS``: the records table is written once
    as scratch parquet and read once per python worker;
  * above that: pairs join the records co-partitioned on id
    (:func:`attach_pair_fields`) and the joined rows stream through the
    same batch function — records are never replicated.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldSpec:
    name: str
    kind: str  # 'jw' | 'dob' | 'lev' | 'exact'
    weight: float

DEFAULT_FIELDS: "tuple[FieldSpec, ...]" = (
    FieldSpec("first_name", "jw", 1.2),
    FieldSpec("middle", "exact", 0.4),
    FieldSpec("last_name", "jw", 1.6),
    FieldSpec("dob", "dob", 2.2),
    FieldSpec("ssn_digits", "lev", 3.0),
    FieldSpec("zipcode", "exact", 0.6),
    FieldSpec("city", "exact", 0.4),
    FieldSpec("sex", "exact", 0.3),
)

# attach values the cascade reads beyond the sim inputs
CASCADE_AUX_FIELDS = ("ssn_digits", "first_name", "byear", "dataset", "period", "base_rid")

# every record field the batch function reads (sim inputs + cascade aux)
LOOKUP_FIELDS = tuple(dict.fromkeys([s.name for s in DEFAULT_FIELDS] + list(CASCADE_AUX_FIELDS)))

# the matched-row projection every regime emits
MATCH_COLUMNS = ("id_l", "id_r", "score", "is_match", "l_ssn_digits", "r_ssn_digits")


def attach_pair_fields(
    pairs: DataFrame,
    records: DataFrame,
    fields: "list[str]",
    id_col: str = "record_id",
) -> DataFrame:
    """(id_l, id_r) × records -> one row per pair with l_*/r_* fields.
    Two sort-merge joins; the id_l join rides the pair dedup's
    HashPartitioning(id_l) exchange (see resolve()._pairs)."""
    l = records.select(F.col(id_col).alias("id_l"), *[F.col(c).alias(f"l_{c}") for c in fields])
    r = records.select(F.col(id_col).alias("id_r"), *[F.col(c).alias(f"r_{c}") for c in fields])
    return pairs.join(l, "id_l").join(r, "id_r")


_FAMILIES: "dict[str, frozenset] | None" = None


def _nickname_families() -> "dict[str, frozenset]":
    """name -> union of all nickname families containing it, built from
    the full asset table. The table is a GRAPH (JUDITH <-> JUDY are each
    other's nicknames; LISA is in both the ALICE and ELIZABETH
    families), so membership is a set relation, not a canonical map."""
    global _FAMILIES
    if _FAMILIES is None:
        from pseudopeople_spark.operators.assets import NICKNAMES

        fam: "dict[str, set]" = {}
        for canon, nicks in NICKNAMES.items():
            members = {canon.upper()} | {n.upper() for n in nicks}
            for name in members:
                fam.setdefault(name, set()).update(members)
        _FAMILIES = {k: frozenset(v) for k, v in fam.items()}
    return _FAMILIES


def _make_sim_engine(families, specs):
    """Worker-side factory shared by match_batches and the streaming
    linker: returns ``compute(col, n) -> (sims, score)`` where ``col``
    maps l_*/r_* field names to pyarrow Arrays, ``sims`` maps each
    spec's field name to a float64 ndarray (NaN is SQL NULL) and
    ``score`` is the null-renormalized weighted score."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pseudopeople_spark.functions import similarity as S

    pair_sim = S.make_pair_sim(families)
    fam_token = S.family_cache_token(families)

    def lev_ratio(x, y):
        m = max(len(x), len(y))
        return 1.0 - S.levenshtein(x, y) / m if m else None

    def _batch_lev_ratio(out, a, b, idx):
        """Vectorized Wagner-Fischer over the subset rows at idx:
        out[idx] = 1 - lev/max(len) (max(len)==0 -> nan). One numpy
        DP over (k, maxlen) byte matrices instead of k python DPs —
        the dob/ssn fallback pairs are ~90% distinct (dates and SSNs
        are high-cardinality), so per-pair memoization cannot help
        and per-pair python DP at ~30us each dominated the batch.
        ASCII-only fast path (dob/ssn are digit strings); non-ascii
        rows fall back to the python kernel."""
        if idx.size == 0:
            return idx[:0]
        sub_a = pc.take(a, pa.array(idx))
        sub_b = pc.take(b, pa.array(idx))
        ok = pc.and_(pc.string_is_ascii(sub_a), pc.string_is_ascii(sub_b))
        if not pc.min(ok).as_py():
            keep = pc.fill_null(ok, False).to_numpy(zero_copy_only=False)
            slow = idx[~keep]
            idx = idx[keep]
            if idx.size == 0:
                return slow
            sub_a = pc.take(a, pa.array(idx))
            sub_b = pc.take(b, pa.array(idx))
        else:
            slow = idx[:0]

        def _padmat(arr):
            arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
            odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
            off = np.frombuffer(arr.buffers()[1], dtype=odt)[
                arr.offset : arr.offset + len(arr) + 1
            ]
            buf = arr.buffers()[2]
            data = (
                np.frombuffer(buf, dtype=np.uint8)
                if buf is not None
                else np.zeros(0, dtype=np.uint8)
            )
            lens = (off[1:] - off[:-1]).astype(np.int64)
            width = int(lens.max()) if len(lens) else 0
            mat = np.zeros((len(arr), width), dtype=np.uint8)
            if width:
                pos = np.arange(width)[None, :]
                m = pos < lens[:, None]
                mat[m] = data[(off[:-1, None] + pos)[m]]
            return mat, lens

        ma, la = _padmat(sub_a)
        mb, lb = _padmat(sub_b)
        k = len(la)
        wa, wb = ma.shape[1], mb.shape[1]
        # dp over j=0..wb for each prefix length i of a; capture the
        # row-appropriate cell (la, lb) as i passes each row's la
        dp = np.tile(np.arange(wb + 1, dtype=np.int32), (k, 1))
        res = dp[np.arange(k), lb]  # i == 0 rows (la == 0)
        for i in range(1, wa + 1):
            prev = dp
            dp = np.empty_like(prev)
            dp[:, 0] = i
            ca = ma[:, i - 1][:, None]
            sub = prev[:, :-1] + (ca != mb).astype(np.int32)
            np.minimum(sub, prev[:, 1:] + 1, out=sub)
            # left-to-right carry for the insertion term
            for j in range(1, wb + 1):
                dp[:, j] = np.minimum(sub[:, j - 1], dp[:, j - 1] + 1)
            hit = la == i
            if hit.any():
                res = np.where(hit, dp[np.arange(k), lb], res)
        mx = np.maximum(la, lb).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(mx > 0, 1.0 - res / mx, np.nan)
        out[idx] = ratio
        return slow

    def _py_rows(out, ua, ub, idx, cache, fn):
        """Fill out[idx] with fn over the (string) pairs at idx,
        via the process-persistent cache."""
        if idx.size == 0:
            return
        sa = pc.take(ua, pa.array(idx)).to_pylist()
        sb = pc.take(ub, pa.array(idx)).to_pylist()
        nan = float("nan")
        for j, (x, y) in zip(idx, zip(sa, sb)):
            k = (x, y)
            v = cache.get(k)
            if v is None:
                v = fn(x, y)
                if v is None:  # kernel says "null" (e.g. 0/0)
                    v = nan
                cache[k] = v
            out[j] = v

    def _name_sim(a, b, cache, fn):
        """None if either null; upper-equal -> 1.0 ('' -> 0.0);
        else memoized fn(upper(a), upper(b))."""
        ua, ub = pc.utf8_upper(a), pc.utf8_upper(b)
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        eq = pc.fill_null(pc.equal(ua, ub), False).to_numpy(zero_copy_only=False)
        nonempty = pc.fill_null(pc.greater(pc.utf8_length(ua), 0), False).to_numpy(
            zero_copy_only=False
        )
        out = np.zeros(len(valid), dtype="float64")
        out[eq & nonempty] = 1.0
        idx = np.nonzero(valid & ~eq)[0]
        _py_rows(out, ua, ub, idx, cache, fn)
        return out, valid

    def _lev_sim(a, b, cache):
        """None if either null; else 1 - lev/max(len) (equal -> 1.0,
        both-empty -> None, mirroring Spark's null for x/0)."""
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        eq = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
        nonempty = pc.fill_null(pc.greater(pc.utf8_length(a), 0), False).to_numpy(
            zero_copy_only=False
        )
        out = np.zeros(len(valid), dtype="float64")
        out[eq & nonempty] = 1.0
        valid = valid & (~eq | nonempty)  # both-empty -> null (x/0)
        idx = np.nonzero(valid & ~eq)[0]
        slow = _batch_lev_ratio(out, a, b, idx)

        _py_rows(out, a, b, slow, cache, lev_ratio)
        return out, valid

    def _dob_sim(a, b, cache):
        """Equal or month/day-swapped -> 1.0; else 1 - lev/max(len)."""
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        swapped = pc.binary_join_element_wise(
            pc.utf8_slice_codeunits(a, 0, 4),
            pc.utf8_slice_codeunits(a, 6, 8),
            pc.utf8_slice_codeunits(a, 4, 6),
            "",
        )
        eq = pc.fill_null(
            pc.or_(pc.equal(a, b), pc.equal(swapped, b)), False
        ).to_numpy(zero_copy_only=False)
        out = np.zeros(len(valid), dtype="float64")
        out[eq] = 1.0
        idx = np.nonzero(valid & ~eq)[0]
        slow = _batch_lev_ratio(out, a, b, idx)

        _py_rows(out, a, b, slow, cache, lev_ratio)
        return out, valid

    def compute(col, n):
        """col: l_*/r_* name -> pa.Array; returns (sims, score)."""
        if len(S._JW_CACHE) > S._CACHE_MAX:
            S._JW_CACHE.clear()
        if len(S._LEV_CACHE) > S._CACHE_MAX:
            S._LEV_CACHE.clear()
        fs_cache = S._FIRST_SIM_CACHES.setdefault(fam_token, {})
        if len(fs_cache) > S._CACHE_MAX:
            fs_cache.clear()
        sims = {}
        num = np.zeros(n, dtype="float64")
        den = np.zeros(n, dtype="float64")
        for name, kind, weight in specs:
            a, b = col[f"l_{name}"], col[f"r_{name}"]
            if kind == "jw" and name == "first_name":
                out, valid = _name_sim(a, b, fs_cache, lambda x, y: pair_sim(str(x), str(y)))
            elif kind == "jw":
                out, valid = _name_sim(a, b, S._JW_CACHE, lambda x, y: S.jaro_winkler(str(x), str(y)))
            elif kind == "dob":
                out, valid = _dob_sim(a, b, S._LEV_CACHE)
            elif kind == "lev":
                out, valid = _lev_sim(a, b, S._LEV_CACHE)
            else:
                eqv = pc.equal(a, b)
                valid = eqv.is_valid().to_numpy(zero_copy_only=False)
                out = pc.cast(pc.fill_null(eqv, False), pa.float64()).to_numpy(
                    zero_copy_only=False
                )
            # a python kernel returning None marks the row null
            valid = valid & ~np.isnan(out)
            sims[name] = np.where(valid, out, np.nan)
            num += np.where(valid, out * weight, 0.0)
            den += np.where(valid, weight, 0.0)
        score = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
        return sims, score

    return compute


# single live records lookup directory per process: match_pairs
# deletes the previous call's scratch parquet before it sets up the
# next lookup, so a long-lived session holds at most one
_LIVE_REC_DIR: "str | None" = None

# driver-side sub-step wall clocks for the lookup set-up — merged into
# resolve()'s stage_seconds so scaling benches can see which scoring
# sub-step is fixed vs variable
PROF: "dict[str, float]" = {}


# Records tables at or under this row count ship to the workers as
# Arrow IPC bytes INSIDE the task closure instead of a scratch-parquet
# write + per-worker read: at bench scale (20k simulants = ~45k
# records) the write job alone costs 0.6-1.9 s of the resolve wall,
# while ~4 MB of closure bytes ride the task-binary broadcast for
# free.
SMALL_LOOKUP_MAX_ROWS = 150_000

# Records tables at or under this row count (~500 MB of lookup fields)
# are replicated to every python worker as scratch parquet. Larger
# tables (the 10^12-document regime) join the pairs co-partitioned by
# id instead, which never replicates records.
LOOKUP_MAX_ROWS = 5_000_000


class ArrowIpcLookup:
    """Closure-shipped records lookup: Arrow IPC bytes, deserialized at
    most once per python worker (_lookup_table caches the decoded
    structures keyed by ``token``)."""

    def __init__(self, table):
        import uuid

        import pyarrow as pa

        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        self._ipc = sink.getvalue().to_pybytes()
        self.token = f"ipc_{uuid.uuid4().hex}"

    @property
    def value(self):
        import pyarrow as pa

        return pa.ipc.open_stream(self._ipc).read_all()


def match_pairs(
    pairs: DataFrame,
    records: DataFrame,
    n_records: int,
    threshold: float = 0.92,
) -> DataFrame:
    """Score and decide every (id_l, id_r) pair; returns the matched
    rows only, as ``MATCH_COLUMNS``. ``records`` must carry
    ``LOOKUP_FIELDS``; ``n_records`` (its row count) selects the regime
    (module docstring).

    The lookup regimes score over the BARE pair ids: no attach joins,
    and the scoring stage's exchange traffic is the 16-byte id pair
    instead of the ~250-byte wide row — on a host whose per-core
    throughput degrades under memory traffic, bytes-per-pair is the
    scaling limiter. The scratch-parquet regime writes the records
    projection ONCE, executor-parallel, and each python worker reads it
    directly (one column-pruned read per worker, page-cache-shared on a
    single host) — collecting the table to the driver instead was a
    serial 10-20 s job at 745k records. Scratch dir:
    ``$PP_FUSED_LOOKUP_DIR`` if set, else the system tmpdir; on a real
    cluster point it at the job's DFS scratch. The returned DataFrame is
    lazy, so its scratch table can only be deleted by the NEXT call:
    consume (or checkpoint) the result before calling again.

    Deciding worker-side means only matched rows (~records-sized, not
    pairs-sized) cross the Python->JVM Arrow stream: at 42M candidate
    pairs the full scored stream (all pairs x l_*/r_* strings + sims,
    ~200 B/pair ~ 8.5 GB per resolve) shrinks ~60x, and no JVM-side
    cascade scan over the full pair set remains."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql import types as T

    global _LIVE_REC_DIR
    if _LIVE_REC_DIR is not None:
        shutil.rmtree(_LIVE_REC_DIR, ignore_errors=True)
        _LIVE_REC_DIR = None
    fields = records.select("record_id", *LOOKUP_FIELDS)
    ssn_type = fields.schema["ssn_digits"].dataType
    cand = pairs.select("id_l", "id_r")
    schema = T.StructType(
        list(cand.schema.fields)
        + [
            T.StructField("score", T.DoubleType()),
            T.StructField("is_match", T.BooleanType()),
            T.StructField("l_ssn_digits", ssn_type),
            T.StructField("r_ssn_digits", ssn_type),
        ]
    )
    _t0 = _time.time()
    if n_records <= SMALL_LOOKUP_MAX_ROWS:
        src = ArrowIpcLookup(fields.toArrow())
        PROF["scoring.lookup_ipc"] = round(_time.time() - _t0, 2)
    elif n_records <= LOOKUP_MAX_ROWS:
        base = os.environ.get("PP_FUSED_LOOKUP_DIR") or tempfile.gettempdir()
        src = _LIVE_REC_DIR = os.path.join(base, f"pp_fused_rec_{uuid.uuid4().hex}")
        fields.write.mode("overwrite").parquet(src)
        PROF["scoring.lookup_write"] = round(_time.time() - _t0, 2)
    else:
        src = None
        cand = attach_pair_fields(cand, fields, list(LOOKUP_FIELDS))
    families = _nickname_families()

    def _batches(batches):
        return match_batches(batches, src, families, threshold)

    return cand.mapInArrow(_batches, schema)


# Per-phase wall-clock accumulators for match_batches, updated by
# every batch (two perf_counter calls per phase per 20k-row batch —
# noise). Read by tools/profile_scoring.py --inproc, where the
# generator runs driver-side; in real Spark runs each python worker
# accumulates its own copy (not collected).
PHASE_SECONDS: "dict[str, float]" = {"lookup": 0.0, "take": 0.0, "sims": 0.0, "emit": 0.0}

# Single-slot per-worker cache of the records lookup table's decoded
# structures (pd.Index over the id column + chunk-combined field
# arrays). Building these cost ~100ms per TASK before (one pd.Index
# hash table over 745k ids per task); python workers are reused across
# tasks (spark.python.worker.reuse) and at most one records lookup is
# live per process (_LIVE_REC_DIR), so a single key-matched slot gives
# a per-WORKER build (and, for the path form, a per-worker READ)
# instead.
_FUSED_REC_CACHE: "dict[str, object]" = {"key": None}


def _lookup_table(src):
    """(pd.Index over the record_id column, field -> Array) for a lookup
    source: a scratch-parquet path (read column-pruned) or an object
    with ``.value`` (an Arrow table) and ``.token``."""
    import pandas as pd

    cache = _FUSED_REC_CACHE
    key = src if isinstance(src, str) else src.token
    if cache["key"] != key:
        if isinstance(src, str):
            import pyarrow.dataset as ds

            tbl = ds.dataset(src).to_table(columns=["record_id", *LOOKUP_FIELDS])
        else:
            tbl = src.value
        cache["key"] = key
        cache["index"] = pd.Index(tbl.column("record_id").to_numpy(zero_copy_only=False))
        cache["cols"] = {c: tbl.column(c).combine_chunks() for c in LOOKUP_FIELDS}
    return cache["index"], cache["cols"]


def match_batches(batches, src, families, threshold=0.92):
    """The worker-side batch function of every regime: Arrow batches of
    candidate pairs in, Arrow batches of matched ``MATCH_COLUMNS`` rows
    out. With a lookup ``src`` (see :func:`_lookup_table`) the input
    batches carry only id_l/id_r and the fields are taken from the
    lookup; with ``src=None`` they already carry the l_*/r_* fields
    (the join regime). Module level so tools can drive it in-process
    over pyarrow batches without a SparkSession."""
    from time import perf_counter

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    specs = [(s.name, s.kind, s.weight) for s in DEFAULT_FIELDS]
    compute = _make_sim_engine(families, specs)
    if src is not None:
        index, rec_cols = _lookup_table(src)
    for rb in batches:
        t0 = perf_counter()
        ids_l, ids_r = rb.column("id_l"), rb.column("id_r")
        if src is None:
            col = {name: rb.column(name) for name in rb.schema.names}
            t1 = t2 = perf_counter()
        else:
            take_l = index.get_indexer(ids_l.to_numpy(zero_copy_only=False))
            take_r = index.get_indexer(ids_r.to_numpy(zero_copy_only=False))
            if (take_l < 0).any() or (take_r < 0).any():
                raise ValueError("pair id not present in records lookup table")
            t1 = perf_counter()
            col = {
                f"{side}_{c}": pc.take(rec_cols[c], tk)
                for side, tk in (("l", pa.array(take_l)), ("r", pa.array(take_r)))
                for c in LOOKUP_FIELDS
            }
            t2 = perf_counter()
        sims, score = compute(col, rb.num_rows)
        t3 = perf_counter()
        mask = cascade_match_mask(sims, score, col, threshold)
        sel = pa.array(np.flatnonzero(mask))
        out = pa.RecordBatch.from_arrays(
            [
                pc.take(ids_l, sel),
                pc.take(ids_r, sel),
                pa.array(score[mask], type=pa.float64()),
                pa.array(np.ones(len(sel), dtype=bool)),
                pc.take(col["l_ssn_digits"], sel),
                pc.take(col["r_ssn_digits"], sel),
            ],
            names=list(MATCH_COLUMNS),
        )
        t4 = perf_counter()
        PHASE_SECONDS["lookup"] += t1 - t0
        PHASE_SECONDS["take"] += t2 - t1
        PHASE_SECONDS["sims"] += t3 - t2
        PHASE_SECONDS["emit"] += t4 - t3
        yield out


def cascade_match_mask(sim, score, aux, threshold=0.92):
    """The match decision over one batch's similarity vectors — a
    deterministic rule cascade, each tier motivated by one of the
    reference's noise channels, with the weighted score as the
    probabilistic fallback:

      tier 1  SSN exact + (first-name agrees OR dob agrees). The
              corroboration guard matters: copy_from_household_member
              puts a RELATIVE's ssn on 1% of tax rows, so a bare SSN
              join would merge households. When first name or dob is
              blanked, last name + non-conflicting dob corroborates.
      tier 1b SSN within 2 edits (both full 9-digit) + the same
              corroboration.
      tier 2  dob agrees (incl. month/day-swap) + last name strong +
              (first name strong OR missing). Covers the no-SSN
              census pairs.
      tier 3  weighted score >= threshold with >=3 identity fields
              present on both sides — the evidence floor kills sparse
              pairs whose few overlapping fields renormalize to a
              perfect score.
      tier 4  dob missing on one side: near-exact names + independent
              corroboration (middle, geography or birth year).
      tier 5  dob conflict (a relative's copied dob): near-exact names
              + a near-agreeing dob or an exactly matching middle.
      tier 6  last name blanked: first name + dob exact.
      veto    decisive first-name disagreement (both present, JW<0.65)
              blocks tiers 2-6: copy-noise gives spouses/siblings an
              identical dob at the same address, and first name is then
              the only discriminating field. An SSN conflict (>4 edits)
              blocks tiers 2-6 too.

    A pair within one dataset-period is vetoed unless it is a
    guardian-duplication twin (same base_rid).

    Nulls follow SQL semantics: every NULL-producing comparison sits
    under an EVEN number of negations, so NaN comparisons yielding False
    equal SQL's ``coalesce(tier, False)``, and each NEGATED subterm
    (veto, ssn_conflict, byear_conflict, geo_conflict, same_dataset) is
    null-proof by construction. tests/test_scoring.py checks the
    decisions against a Spark Column implementation of the same rules
    over an adversarial null grid.

    ``sim``: field -> float64 ndarray with NaN as SQL NULL (exactly the
    arrays `_make_sim_engine` emits). ``score``: float64 ndarray.
    ``aux``: l_*/r_* -> pyarrow Array for CASCADE_AUX_FIELDS.
    Returns a bool ndarray: the matched rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    jf, jl = sim["first_name"], sim["last_name"]
    dob, mid, sex = sim["dob"], sim["middle"], sim["sex"]
    zp, city = sim["zipcode"], sim["city"]
    ssn = sim["ssn_digits"]

    def _np(a):
        return a.to_numpy(zero_copy_only=False)

    lssn, rssn = aux["l_ssn_digits"], aux["r_ssn_digits"]
    lv, rv = _np(lssn.is_valid()), _np(rssn.is_valid())
    ll = _np(pc.fill_null(pc.utf8_length(lssn), 0))
    rl = _np(pc.fill_null(pc.utf8_length(rssn), 0))
    ssn_eq = _np(pc.fill_null(pc.equal(lssn, rssn), False))
    ssn_exact = ssn_eq & (ll == 9)
    # integer levenshtein recovered from the ratio sim (sim = 1 -
    # lev/max(len), exact over <=12-char digit strings); NaN (a null
    # side, or Spark's x/0 null on two empties — where levenshtein()
    # is 0 and can never exceed a threshold) propagates to False
    mx = np.maximum(ll, rl).astype(np.float64)
    lev = np.rint((1.0 - ssn) * mx)
    # near-exact SSN: write_wrong_digits at its default rate leaves ~94%
    # of noised SSNs within 2 edits, while random SSN pairs differ by ~7+
    # digits. BOTH sides must be full SSNs: lev<=2 does not imply equal
    # lengths, and a 7-digit truncation matches ~100 full SSNs.
    ssn_near = (ll == 9) & (rl == 9) & (lev <= 2)
    # disagreement threshold sits ABOVE the noise channel's tail:
    # token_probability 0.1 corrupts >=3 of 9 digits on ~6% of noised
    # true pairs; lev > 4 keeps ~99.9% of them and refutes random pairs
    ssn_conflict = lv & rv & (lev > 4)

    first_missing = ~(_np(aux["l_first_name"].is_valid()) & _np(aux["r_first_name"].is_valid()))
    mid_compat = np.isnan(mid) | (mid == 1.0)
    sex_compat = np.isnan(sex) | (sex == 1.0)
    geo_exact = (zp == 1.0) & (city == 1.0)
    # both zips present and different: negative evidence in the
    # name-only tiers (same-household true pairs share the address;
    # noise breaks it for only ~2% of them)
    geo_conflict = zp == 0.0
    # 0.65: low enough that one typo in a short name (PAVI/PAUL ~ 0.67)
    # does not refute a pair other fields support; different people's
    # first names in the same block sit ~0.5
    veto = jf < 0.65
    evidence = (
        (~np.isnan(jf)).astype(np.int32)
        + (~np.isnan(jl))
        + (~np.isnan(dob))
        + (~np.isnan(mid))
        + (~np.isnan(zp))
        + (lv & rv)
    )

    # birth-year evidence (from the dob, or reconstructed ref_year-age):
    # agreement within the misreport_age spread supports a match; a gap
    # beyond any noise channel refutes one
    def _sane_byear(a):
        # byear is digits-or-null by construction; digit noise produces
        # absurd years (7013, 1763), treated as missing, not refuting
        y = _np(pc.cast(a, pa.float64()))
        return np.where((y >= 1850) & (y <= 2100), y, np.nan)

    byear_diff = np.abs(_sane_byear(aux["l_byear"]) - _sane_byear(aux["r_byear"]))
    byear_agree = byear_diff <= 2
    byear_conflict = byear_diff > 5

    tier1 = ssn_exact & (
        (jf >= 0.85)
        | ((dob >= 0.85) & ~veto)
        | ((jl >= 0.85) & (np.isnan(jf) | np.isnan(dob)) & (np.isnan(dob) | (dob >= 0.55)) & ~veto)
    )
    tier1b = ssn_near & (
        (jf >= 0.85) | ((dob >= 0.85) & ~veto) | ((jl >= 0.85) & ~veto & (dob >= 0.55))
    )
    tier2 = (dob == 1.0) & (jl >= 0.85) & ~ssn_conflict & (
        ((jf >= 0.85) & (mid_compat | (jf == 1.0)))
        | (first_missing & mid_compat & sex_compat)
    )
    tier3 = (
        (score >= threshold)
        & (evidence >= 3)
        & ~veto
        & ~ssn_conflict
        # with the first name missing, near-miss dobs are name-collision
        # bait: demand an exact dob and a non-contradicting sex
        & (np.isnan(jf) | (jf >= 0.78))
        & (~np.isnan(jf) | ((dob == 1.0) & sex_compat))
        # a high score with NO hard identifier (no dob, no ssn pair) is
        # just agreeing names
        & (~np.isnan(dob) | (lv & rv))
    )
    # 0.94 on the first name sits ABOVE the 0.93 nickname-family grant
    # (a family overlap alone is not near-exact) while admitting typos
    tier4 = (
        np.isnan(dob) & (jf >= 0.94) & (jl >= 0.95)
        & ((mid == 1.0) | geo_exact | byear_agree) & ~byear_conflict
        & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
    )
    tier5 = (
        (jl >= 0.95) & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
        & (
            ((jf >= 0.9) & (dob >= 0.875) & mid_compat)
            | ((jf >= 0.95) & (dob >= 0.55) & (mid == 1.0))
            | ((jf >= 0.95) & (dob >= 0.55) & geo_exact & mid_compat)
            # deliberately NO (names + dob~0.75 + byear) arm: at 20k
            # simulants it admitted +209 FP for +150 TP
        )
    )
    tier6 = np.isnan(jl) & (jf >= 0.95) & (dob == 1.0) & mid_compat & sex_compat & ~ssn_conflict

    is_match = tier1 | tier1b | tier2 | tier3 | tier4 | tier5 | tier6
    # one row per entity per dataset-PERIOD (reference interface.py), so
    # a same-period pair is a different entity by construction — except
    # a guardian-duplication twin, which shares its original's base_rid
    # (verified 1:1 in pipeline._assign_int_ids). NULL periods compare
    # equal: the conservative whole-dataset veto.
    dup_twin = _np(pc.fill_null(pc.equal(aux["l_base_rid"], aux["r_base_rid"]), False))
    same_ds = _np(pc.fill_null(pc.equal(aux["l_dataset"], aux["r_dataset"]), False))
    lp, rp = aux["l_period"], aux["r_period"]
    period_eq = _np(pc.fill_null(pc.equal(lp, rp), False)) | (
        ~_np(lp.is_valid()) & ~_np(rp.is_valid())
    )
    return is_match & (~(same_ds & period_eq) | dup_twin)


def prune_edges_by_ssn_consensus(edges: DataFrame) -> DataFrame:
    """Identifier-consensus pruning — the cluster-hygiene pass that
    keeps one bad name/dob edge from merging two whole entity clusters
    (every cross-pair of a bad merge is a false positive, a ~3.5x
    amplification measured at 20k simulants).

    A record WITHOUT an SSN (census) accumulates the SSNs of its
    matched partners (w2/ssa) as votes. When its partners disagree, the
    true partners share the entity's one SSN while a same-household
    look-alike brings a different one — so edges carrying a STRICT-
    minority SSN are dropped (ties keep everything: no evidence which
    side is wrong). Measured on 20k simulants: 24 edges dropped, all
    false, cluster-pair FPs 381 -> 234.

    Shuffle cost: two small aggregations + one broadcast-ish join on
    the EDGE set (already tiny relative to records)."""
    one_sided = (
        edges.where(F.col("l_ssn_digits").isNull() & F.col("r_ssn_digits").isNotNull())
        .select(F.col("id_l").alias("bare_id"), F.col("r_ssn_digits").alias("partner_ssn"))
        .unionByName(
            edges.where(F.col("r_ssn_digits").isNull() & F.col("l_ssn_digits").isNotNull())
            .select(F.col("id_r").alias("bare_id"), F.col("l_ssn_digits").alias("partner_ssn"))
        )
    )
    votes = one_sided.groupBy("bare_id", "partner_ssn").agg(F.count("*").alias("n"))
    w = Window.partitionBy("bare_id").orderBy(F.desc("n"), "partner_ssn")
    ranked = votes.withColumn("rn", F.row_number().over(w))
    top = ranked.where(F.col("rn") == 1).select("bare_id", F.col("partner_ssn").alias("top_ssn"), F.col("n").alias("top_n"))
    second = ranked.where(F.col("rn") == 2).select("bare_id", F.col("n").alias("second_n"))
    winners = (
        top.join(second, "bare_id", "left")
        .where(F.col("top_n") > F.coalesce(F.col("second_n"), F.lit(0)))
        .select("bare_id", "top_ssn")
    )
    bare_id = F.when(
        F.col("l_ssn_digits").isNull() & F.col("r_ssn_digits").isNotNull(), F.col("id_l")
    ).when(F.col("r_ssn_digits").isNull() & F.col("l_ssn_digits").isNotNull(), F.col("id_r"))
    partner_ssn = F.coalesce(F.col("l_ssn_digits"), F.col("r_ssn_digits"))
    out = (
        edges.withColumn("__bare", bare_id)
        .join(winners, F.col("__bare") == F.col("bare_id"), "left")
        .where(
            F.col("top_ssn").isNull()  # no disagreement / not one-sided
            # edit-distance-tolerant agreement, consistent with every
            # other SSN comparison in the cascade (ssn_near lev<=2): a
            # digit-noised variant of the winning SSN is the same
            # identity and must not cost the entity its true edge — only
            # genuinely DIFFERENT numbers (a look-alike's SSN, many
            # digits apart) are pruned
            | (F.levenshtein(partner_ssn, F.col("top_ssn")) <= 2)
        )
    )
    return out.select(*edges.columns).drop("__bare")


def match_edges(scored: DataFrame) -> DataFrame:
    """Matched rows (``MATCH_COLUMNS``, as :func:`match_pairs` emits
    them) -> edges for the clustering stage, after identifier-consensus
    pruning."""
    # The consensus prune scans its input 3x (vote union from both sides
    # + the final anti-join); pin the — tiny — matched set first so those
    # scans do not each recompute it.
    keep = ["id_l", "id_r", "score"]
    edges = scored.select(*keep, "l_ssn_digits", "r_ssn_digits").localCheckpoint()
    return prune_edges_by_ssn_consensus(edges).select(*keep)
