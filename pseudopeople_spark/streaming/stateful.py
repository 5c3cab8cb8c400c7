"""Custom stateful streaming operators (applyInPandasWithState).

The stateless noise chain needs no state (stream_noise.py); these are
the operators that DO — the streaming halves of the batch dedup suite:

* :func:`dedup_stream_first_seen` — exact dedup across micro-batches:
  emit the first record per key ever seen on the stream, drop every
  later duplicate. The batch equivalent is the ``dedup_exact``
  hash-groupBy; on a stream the "group" never closes, so it must be
  keyed state. State per key is a single small tuple and carries a
  processing-time TTL so the state store stays bounded on an unbounded
  stream — at 100 TB/day the working set is the TTL window, not the
  stream's history (late re-occurrences past the TTL re-emit, the
  standard at-least-once dedup trade-off; a downstream batch compactor
  owns exactness, same division of labor as guardian duplication in
  stream_noise.py).

Design notes for the Spark execution model:
* applyInPandasWithState shuffles by the dedup key once — the same
  exchange the batch groupBy pays; no extra shuffles.
* The state value stores only (first_seen_ms,) — never the record —
  so state bytes scale with distinct keys in the TTL window, not with
  record width.
* The chosen representative is the minimum of ``order_col`` WITHIN the
  first micro-batch a key appears in (micro-batch row order is not
  deterministic; an explicit order column is). Across batches the
  first batch wins by construction.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_stream_first_seen(
    stream: DataFrame,
    keys: "list[str]",
    order_col: str,
    ttl_minutes: int = 0,
) -> DataFrame:
    """Keep the first record per ``keys`` across the whole stream.

    ``order_col`` breaks ties deterministically inside the first
    micro-batch a key appears in. ``ttl_minutes`` > 0 bounds the state
    store: a key silent for that long is evicted (and would re-emit on
    re-occurrence); 0 keeps state forever (only safe for bounded key
    domains).
    """
    out_schema = stream.schema
    state_schema = T.StructType([T.StructField("seen", T.LongType())])
    ttl_ms = int(ttl_minutes * 60 * 1000)

    def _first_seen(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            # already emitted in an earlier micro-batch: drop everything,
            # refresh the TTL so a hot key stays deduped
            for _ in pdfs:
                pass
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            return
        best = None  # 1-row DataFrame slice — keeps the input dtypes
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.loc[[pdf[order_col].idxmin()]]
            if best is None or cand[order_col].iloc[0] < best[order_col].iloc[0]:
                best = cand
        if best is None:
            return
        state.update((1,))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield best

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(*keys).applyInPandasWithState(
        _first_seen, out_schema, state_schema, "append", timeout
    )


def link_stream_incremental(
    stream: DataFrame,
    block_key: str,
    order_col: str,
    fields,
    id_col: str = "record_id",
    threshold: float = 0.9,
    max_state_per_block: int = 1024,
    ttl_minutes: int = 0,
) -> DataFrame:
    """Incremental record linkage on a stream — the streaming half of
    ``linkage.pipeline.resolve()``'s blocking+scoring stages, the way
    :func:`dedup_stream_first_seen` is the streaming half of
    ``dedup_exact``.

    Each arriving record is scored against the records previously seen
    in its block (``block_key``), and every pair at or above
    ``threshold`` is emitted as ``(id_l, id_r, score,
    block_evictions)`` with ``id_l`` the earlier arrival. Arrival
    order is ``order_col`` (micro-batch row order is not
    deterministic; an explicit monotone column is), so the emitted
    pair set is batching-invariant PROVIDED trigger boundaries respect
    ``order_col`` (no out-of-order arrivals across triggers — a late
    arrival with a smaller order value in a later trigger emits with
    flipped id_l/id_r and sees different ring-eviction state than the
    batch replay). Within that condition the result equals the batch
    self-join "same block AND order_l < order_r AND score >=
    threshold".

    ``fields`` is a ``FieldSpec`` list like ``scoring.DEFAULT_FIELDS``
    (kinds 'jw' | 'lev' | 'dob' | 'exact'); the sims and the
    null-renormalized weighted score come from the SAME engine
    (``scoring._make_sim_engine``) built with the SAME nickname-family
    table the batch scorer loads (``scoring._nickname_families``,
    lazy-loaded once per Python worker), so streaming and batch scores
    are bit-identical — including the first_name nickname-family
    boost — and for jw/exact specs, DuckDB-replayable.

    Spec columns are cast to string ON THE SPARK SIDE before the
    stateful operator, so the state's string form is batch-independent:
    a nullable LongType column would otherwise render ``1`` as ``'1.0'``
    in pandas micro-batches that happen to contain a null and ``'1'``
    in batches that don't, making the same value fail an exact match
    across triggers.

    ``block_evictions`` is the observability column for the ring cap
    (the streaming analogue of ``linkage/pairs.py`` REPORTING oversized
    blocks instead of silently sweeping them): each emitted pair
    carries the block's cumulative eviction count at the moment the
    later record was scored, so a consumer can see per block exactly
    when comparisons started being lost (``max(block_evictions) > 0``
    == this block ran hotter than the cap and recall loss began).

    Spark execution shape (SURVEY.md §2.E — streaming is ours, the
    reference is batch-only):

    * ONE shuffle, on ``block_key`` — the same exchange the batch
      blocking pays; ``applyInPandasWithState`` adds no further
      exchanges.
    * State per block is a bounded ring of the last
      ``max_state_per_block`` arrivals' spec fields (the streaming
      analogue of the batch pipeline's capped quadratic blocks in
      ``linkage/pairs.py``): state bytes scale with
      blocks x cap x field width, never with stream history. A record
      past the cap horizon no longer pairs — the same trade the batch
      cap makes, disclosed rather than silent.
    * Per-trigger work: when the block's state + batch fits under the
      ring cap (no eviction can occur mid-batch), ALL pairs of the
      trigger — state x batch AND the within-batch upper triangle —
      are scored in ONE vectorized kernel call over take()-gathered
      Arrow arrays (O(pairs) total, no per-row re-materialization of
      the state arrays). Only a block hotter than the cap falls back
      to the sequential per-row loop whose eviction semantics the ring
      requires. The sim engine is built once per Python worker process
      per spec list (module cache), not per group invocation.
      ``ttl_minutes`` > 0 additionally evicts cold blocks
      (processing-time TTL).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F

    id_type = stream.schema[id_col].dataType
    spec_cols = [s.name for s in fields]
    # the string cast below must not touch the id/order columns: a cast
    # id would silently emit string ids while out_schema still declares
    # the pre-cast id_type (a confusing Arrow type error at runtime)
    if id_col in spec_cols:
        raise ValueError(f"id_col {id_col!r} cannot also be a scored field")
    if order_col in spec_cols:
        raise ValueError(f"order_col {order_col!r} cannot also be a scored field")
    # batch-independent string form for the keyed state (see docstring)
    stream = stream.select(
        *[
            F.col(c).cast("string").alias(c) if c in spec_cols else F.col(c)
            for c in stream.columns
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField("id_l", id_type),
            T.StructField("id_r", id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("block_evictions", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("ids", T.ArrayType(id_type))]
        + [T.StructField(f"f_{c}", T.ArrayType(T.StringType())) for c in spec_cols]
        + [T.StructField("evictions", T.LongType())]
    )
    specs = [(s.name, s.kind, s.weight) for s in fields]
    ttl_ms = int(ttl_minutes * 60 * 1000)
    cap = int(max_state_per_block)

    def _clean(v):
        return None if (v is None or (isinstance(v, float) and np.isnan(v))) else str(v)

    def _link(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        compute = _engine(specs)
        if state.exists:
            st = state.get
            ids = list(st[0])
            members = {c: list(st[i + 1]) for i, c in enumerate(spec_cols)}
            # read defensively: a checkpoint written before the
            # 'evictions' field was added deserializes to a shorter
            # state tuple — treat it as zero instead of indexing past it
            evictions = int(st[len(spec_cols) + 1] or 0) if len(st) > len(spec_cols) + 1 else 0
        else:
            ids = []
            members = {c: [] for c in spec_cols}
            evictions = 0
        out_l, out_r, out_s, out_e = [], [], [], []

        def _emit(score, l_ids, r_ids, evt):
            hit = np.flatnonzero(score >= threshold)
            if hit.size:
                out_l.extend(l_ids[j] for j in hit)
                out_r.extend(r_ids[j] for j in hit)
                out_s.extend(float(score[j]) for j in hit)
                out_e.extend([evt] * hit.size)

        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(order_col, kind="mergesort")
            n = len(pdf)
            m = len(ids)
            if m + n <= cap:
                # bulk path: no eviction possible this trigger, so every
                # row's comparison set is exactly "all prior arrivals" —
                # gather both sides of ALL (m*n + n*(n-1)/2) pairs with
                # take() and score them in one kernel call
                new_ids = list(pdf[id_col])
                new_vals = {c: [_clean(v) for v in pdf[c]] for c in spec_cols}
                li, ri = [], []
                for i in range(n):
                    li.extend(range(m + i))
                    ri.extend([m + i] * (m + i))
                if li:
                    li = np.asarray(li, dtype=np.int64)
                    ri = np.asarray(ri, dtype=np.int64)
                    col = {}
                    for c in spec_cols:
                        combined = pa.array(members[c] + new_vals[c], type=pa.string())
                        col[f"l_{c}"] = combined.take(pa.array(li))
                        col[f"r_{c}"] = combined.take(pa.array(ri))
                    _, score = compute(col, len(li))
                    all_ids = ids + new_ids
                    _emit(score, [all_ids[j] for j in li], [all_ids[j] for j in ri], evictions)
                ids.extend(new_ids)
                for c in spec_cols:
                    members[c].extend(new_vals[c])
                continue
            # sequential path (block hotter than the cap): per-row
            # scoring with ring eviction between rows
            for rd in pdf.to_dict("records"):
                m = len(ids)
                if m:
                    col = {}
                    for c in spec_cols:
                        v = _clean(rd[c])
                        col[f"l_{c}"] = pa.array(members[c], type=pa.string())
                        col[f"r_{c}"] = pa.array([v] * m, type=pa.string())
                    _, score = compute(col, m)
                    _emit(score, list(ids), [rd[id_col]] * m, evictions)
                ids.append(rd[id_col])
                for c in spec_cols:
                    members[c].append(_clean(rd[c]))
                if len(ids) > cap:
                    drop = len(ids) - cap
                    evictions += drop
                    ids = ids[-cap:]
                    members = {c: members[c][-cap:] for c in spec_cols}
        state.update(tuple([ids] + [members[c] for c in spec_cols] + [evictions]))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        if out_l:
            yield pd.DataFrame(
                {"id_l": out_l, "id_r": out_r, "score": out_s, "block_evictions": out_e}
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(block_key).applyInPandasWithState(
        _link, out_schema, state_schema, "append", timeout
    )


_ENGINE_CACHE: "dict[tuple, object]" = {}


def _engine(specs):
    """Per-worker-process sim-engine cache: the engine (and the
    nickname-family table it embeds — scoring._nickname_families() is
    itself memoized) is built once per distinct spec list, not once per
    group invocation."""
    key = tuple(specs)
    eng = _ENGINE_CACHE.get(key)
    if eng is None:
        from pseudopeople_spark.linkage import scoring as _scoring

        eng = _scoring._make_sim_engine(_scoring._nickname_families(), specs)
        _ENGINE_CACHE[key] = eng
    return eng
