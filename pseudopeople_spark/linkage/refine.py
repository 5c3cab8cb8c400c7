"""Constraint-guided cluster refinement — split transitive merges that
violate the dataset-period uniqueness invariant.

An entity appears at most once per dataset-period (one census row per
simulant per year — reference ``interface.py`` generates one row per
simulant per dataset pull; the guardian-duplication twin is the single
exception and shares its original's ``base_rid``).  The match cascade
(``scoring.cascade_match_mask``) already uses that invariant as a hard
veto on DIRECT edges (``same_dataset_distinct``), but transitive
closure can still merge two entities through a chain of cross-dataset
edges: the measured FP mass at 300k simulants is dominated by
same-household twins (same last name, same dob, similar first names —
JOSH/JOHN, JULIE/JULIA) whose merged cluster then contains BOTH
entities' census rows.  That violation is machine-detectable, so
instead of accepting the k*m amplified false-positive pairs we split
exactly those clusters.

Split = greedy constrained re-agglomeration per violating cluster:
take the cluster's match edges best-score-first and union-find them
back together, refusing any union that would put two different
``base_rid``s into one (dataset, period) slot.  Highest-confidence
edges survive; the bridge edge that caused the merge (by construction
the lowest-evidence link on the violating path) is dropped.  New
sub-cluster ids are the min rid of each sub-cluster — the same label
convention the star-rounds and the local union-find converge to, so
ids stay unique across the whole assignment set (min of disjoint rid
sets, disjoint from untouched clusters).

Scale shape: detection is ONE aggregate over the records-sized
assignment set (slim 4-column frame).  Violating clusters are rare
(~1e-4 of clusters at 300k) and small (entity-sized, not data-sized),
so the rebuild is an ``applyInPandas`` cogroup over only those
clusters' edges + members — no pair-scale shuffle anywhere.
"""

from __future__ import annotations

import time as _time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# driver-side sub-step walls, merged into resolve()'s stage_seconds
# (same convention as scoring.PROF) so scaling evidence can attribute
# the clustering stage's refine share
PROF: "dict[str, float]" = {}


def find_violating_clusters(assignments: DataFrame, meta: DataFrame) -> DataFrame:
    """Cluster ids holding >1 distinct base_rid in one (dataset, period)
    slot. assignments: (record_id, cluster_id) in rid space; meta:
    (record_id, dataset, period, base_rid)."""
    return (
        assignments.join(meta, "record_id")
        .groupBy("cluster_id", "dataset", "period")
        .agg(F.count_distinct("base_rid").alias("k"))
        .where(F.col("k") >= 2)
        .select("cluster_id")
        .distinct()
    )


def _rebuild(key, edge_pdf, node_pdf):
    """Greedy constrained union-find over one violating cluster.

    Edges best-score-first (ties broken on ids for determinism); a
    union is allowed only if no (dataset, period) slot ends up with two
    base_rids. Runs on entity-sized groups (tens of rows)."""
    import pandas as pd

    nodes = node_pdf["record_id"].tolist()
    # NULL periods arrive as None/NaN; NaN != NaN would split every
    # slot key, so normalize missing to one sentinel (matches the
    # eqNullSafe semantics of the direct-edge veto)
    slot = {
        rid: (ds, "\x00" if pd.isna(per) else per)
        for rid, ds, per in zip(node_pdf["record_id"], node_pdf["dataset"], node_pdf["period"])
    }
    brid = dict(zip(node_pdf["record_id"], node_pdf["base_rid"]))
    parent = {rid: rid for rid in nodes}
    # per-set constraint state: (dataset, period) -> base_rid
    slots: "dict[int, dict]" = {rid: {slot[rid]: brid[rid]} for rid in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    e = edge_pdf.sort_values(["score", "id_l", "id_r"], ascending=[False, True, True])
    for lid, rid_, _s in zip(e["id_l"], e["id_r"], e["score"]):
        if lid not in parent or rid_ not in parent:
            continue  # endpoint pruned upstream; edge no longer binds
        ra, rb = find(lid), find(rid_)
        if ra == rb:
            continue
        sa, sb = slots[ra], slots[rb]
        small, big = (sa, sb) if len(sa) <= len(sb) else (sb, sa)
        ok = all(big.get(k, v) == v for k, v in small.items())
        if not ok:
            continue
        big.update(small)
        winner = ra if big is sa else rb
        loser = rb if winner == ra else ra
        parent[loser] = winner
        slots[winner] = big
        del slots[loser]
    comp: "dict[int, int]" = {}
    for rid in nodes:
        root = find(rid)
        comp[root] = min(comp.get(root, rid), rid)
    return pd.DataFrame(
        {"record_id": nodes, "cluster_id": [comp[find(rid)] for rid in nodes]}
    )


def local_cluster_and_refine(
    edges: DataFrame,
    records: DataFrame,
    id_col: str = "record_id",
) -> DataFrame:
    """ONE driver pass fusing connected components + violation
    detection + constrained rebuild, for the small-edge-set regime.

    The distributed shape (cluster_records -> split_violating_clusters)
    costs ~8 Spark jobs of FIXED latency (CC rounds/fingerprints, the
    assignment checkpoint, the detection aggregate, two collects) — a
    parallelism-independent ~9 s that caps the pipeline's N->4N scaling
    efficiency once the scalable stages shrink.  When the match-edge
    set fits the driver (same cap as clustering's local union-find
    finish — at 10^12 records it never does and the caller keeps the
    distributed path), TWO Spark actions suffice: collect the slim edge
    set and the slim (id, dataset, period, base_rid) meta projection;
    everything else — vectorized min-label CC, slot-violation
    detection, the greedy constrained rebuild (:func:`_rebuild`) — is
    driver-local numpy/pandas.  Output (record_id, cluster_id) covers
    ALL records (singletons keep their own id), identical by
    construction to the distributed path (asserted in
    tests/test_refine.py).

    Requires int64 ids (the rid pipeline's verified-unique surrogates)."""
    import numpy as np
    import pandas as pd

    _t = _time.time()
    e_pdf = edges.select("id_l", "id_r", "score").toPandas()
    meta_pdf = records.select(id_col, "dataset", "period", "base_rid").toPandas()
    meta_pdf = meta_pdf.rename(columns={id_col: "record_id"})
    PROF["refine.local_collect"] = round(_time.time() - _t, 2)
    _t = _time.time()
    spark = records.sparkSession
    all_ids = records.select(F.col(id_col).alias("record_id"))
    if len(e_pdf) == 0:
        return all_ids.select("record_id", F.col("record_id").alias("cluster_id"))
    u = e_pdf["id_l"].to_numpy(dtype="int64")
    v = e_pdf["id_r"].to_numpy(dtype="int64")
    # vectorized min-label propagation with pointer jumping — the same
    # kernel as clustering._local_union_find, converging to the
    # component-min id label both the star-rounds and _rebuild use
    ids = np.unique(np.concatenate([u, v]))
    iu = np.searchsorted(ids, u)
    iv = np.searchsorted(ids, v)
    parent = np.arange(len(ids), dtype="int64")
    while True:
        m = np.minimum(parent[iu], parent[iv])
        nxt = parent.copy()
        np.minimum.at(nxt, iu, m)
        np.minimum.at(nxt, iv, m)
        nxt = nxt[nxt]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    labels = ids[parent]
    PROF["refine.local_uf"] = round(_time.time() - _t, 2)
    _t = _time.time()
    # detection: every member of a multi-record cluster is edge-
    # incident (singletons cannot violate), so meta restricted to the
    # endpoint set covers all candidates
    node = pd.DataFrame({"record_id": ids, "cluster_id": labels}).merge(
        meta_pdf, on="record_id", how="left"
    )
    per = node["period"].fillna("\x00")  # NULL periods compare equal
    grp = node.groupby(
        [node["cluster_id"], node["dataset"], per], sort=False, dropna=False
    )["base_rid"].nunique()
    bad = set(grp[grp >= 2].index.get_level_values(0))
    PROF["refine.local_detect"] = round(_time.time() - _t, 2)
    if not bad:
        asg_pdf = node[["record_id", "cluster_id"]]
    else:
        _t = _time.time()
        bad_mask = node["cluster_id"].isin(bad).to_numpy()
        e_bad = np.isin(labels[iu], list(bad))
        fixed = _rebuild(None, e_pdf[e_bad], node[bad_mask])
        asg_pdf = pd.concat(
            [node.loc[~bad_mask, ["record_id", "cluster_id"]], fixed],
            ignore_index=True,
        )
        PROF["refine.local_rebuild"] = round(_time.time() - _t, 2)
    _t = _time.time()
    asg = spark.createDataFrame(asg_pdf, schema="record_id long, cluster_id long")
    out = all_ids.join(asg, "record_id", "left").select(
        "record_id",
        F.coalesce("cluster_id", F.col("record_id")).alias("cluster_id"),
    )
    PROF["refine.local_emit"] = round(_time.time() - _t, 2)
    return out


def split_violating_clusters(
    assignments: DataFrame,
    edges: DataFrame,
    records: DataFrame,
    id_col: str = "record_id",
    local_limit: int = 2_000_000,
) -> DataFrame:
    """assignments (record_id, cluster_id) -> corrected assignments.

    edges: (id_l, id_r, score) match edges, rid space. records must
    carry (record_id, dataset, period, base_rid).

    Two rebuild paths, size-gated like clustering's local union-find
    finish: violating rows <= ``local_limit`` (always, in practice —
    violations are ~1e-4 of clusters and entity-sized) collect to the
    driver and rebuild in one vectorized pass, which costs two
    broadcast-semi SCANS and zero extra shuffles; above the gate, a
    cogroup ``applyInPandas`` keeps the rebuild distributed."""
    meta = records.select(
        F.col(id_col).alias("record_id"), "dataset", "period", "base_rid"
    )
    # materialize the (slim, records-sized, 2-column) assignment set
    # once: its consumers below (detection join, kept anti-join) would
    # otherwise each replay the full connected-components lineage
    # (measured: 96s -> ~15s clustering stage at 300k simulants)
    _t = _time.time()
    assignments = assignments.localCheckpoint()
    PROF["refine.asg_ckpt"] = round(_time.time() - _t, 2)
    # ONE assignments><meta shuffle join feeds both the detection
    # aggregate and the violating-node set (materialized: slim 5-column
    # records-sized frame, two consumers)
    _t = _time.time()
    joined = assignments.join(meta, "record_id").localCheckpoint()
    PROF["refine.joined_ckpt"] = round(_time.time() - _t, 2)
    # localCheckpoint: (a) materializes the tiny violating-id set once
    # for its consumers, (b) detaches lineage so the joins below aren't
    # flagged as an ambiguous self-join (bad descends from assignments);
    # rename the key so join conditions are unambiguous
    _t = _time.time()
    bad = (
        joined.groupBy("cluster_id", "dataset", "period")
        .agg(F.count_distinct("base_rid").alias("k"))
        .where(F.col("k") >= 2)
        .select(F.col("cluster_id").alias("bad_cid"))
        .distinct()
        .localCheckpoint()
    )
    n_bad = bad.count()
    PROF["refine.detect"] = round(_time.time() - _t, 2)
    if n_bad == 0:
        return assignments
    _t = _time.time()
    bad_nodes = (
        joined.join(
            F.broadcast(bad), F.col("cluster_id") == F.col("bad_cid"), "left_semi"
        )
        .select("cluster_id", "record_id", "dataset", "period", "base_rid")
        .localCheckpoint()
    )
    n_rows = bad_nodes.count()
    PROF["refine.nodes"] = round(_time.time() - _t, 2)
    kept = assignments.join(
        F.broadcast(bad), F.col("cluster_id") == F.col("bad_cid"), "left_anti"
    )
    spark = assignments.sparkSession
    if n_rows <= local_limit:
        # ---- driver-local path. The violating rid set is known, so
        # the edge restriction is a broadcast semi-join on id_l (both
        # endpoints share a cluster, so id_l membership suffices) — an
        # edge-set SCAN, no shuffle, no cogroup, no python workers.
        _t = _time.time()
        node_pdf = bad_nodes.toPandas()
        rid_df = spark.createDataFrame(
            node_pdf[["record_id"]].rename(columns={"record_id": "id_l"})
        )
        edge_pdf = (
            edges.join(F.broadcast(rid_df), "id_l", "left_semi")
            .select("id_l", "id_r", "score")
            .toPandas()
        )
        PROF["refine.collect"] = round(_time.time() - _t, 2)
        _t = _time.time()
        # one GLOBAL greedy pass: violating clusters are disjoint node
        # sets and no match edge crosses clusters, so running the
        # constrained union-find over the whole collected set at once
        # is equivalent to per-cluster rebuilds — and skips the pandas
        # groupby + per-group frame construction (measured 3.8s -> 0.3s
        # at ~2k violating clusters)
        fixed_pdf = _rebuild(None, edge_pdf, node_pdf)
        fixed = spark.createDataFrame(
            fixed_pdf, schema="record_id long, cluster_id long"
        )
        PROF["refine.rebuild"] = round(_time.time() - _t, 2)
        return kept.unionByName(fixed)
    # ---- distributed path (the 10^12-record regime). The edge side's
    # grouping key gets a fresh name (ecid): both cogroup sides would
    # otherwise carry the SAME cluster_id attribute from assignments,
    # which the analyzer rejects as an ambiguous self-join.
    asg_l = assignments.select(
        F.col("record_id").alias("id_l"), F.col("cluster_id")
    )
    bad_edges = (
        edges.join(asg_l, "id_l")
        .join(F.broadcast(bad), F.col("cluster_id") == F.col("bad_cid"), "left_semi")
        .select(F.col("cluster_id").alias("ecid"), "id_l", "id_r", "score")
    )
    fixed = bad_edges.groupBy("ecid").cogroup(
        bad_nodes.groupBy("cluster_id")
    ).applyInPandas(_rebuild, schema="record_id long, cluster_id long")
    return kept.unionByName(fixed)
