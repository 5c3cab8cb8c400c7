"""Dissect the non-scaling wall inside the resolve() stages.

The scaling bench shows `blocking` ~flat (20s at local[2] AND local[8])
and `clustering` with a large fixed component. This tool rebuilds the
same deterministic input and times each sub-part of those stages at one
parallelism level, so the flat chunk can be attributed (Python-worker
startup? Catalyst? localCheckpoint materialization? driver union-find?).

Usage: python tools/profile_stages.py <cores> [n_simulants]
Prints one JSON line of sub-part seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000

    from pyspark.sql import functions as F

    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.checkpoint import _capped_local_checkpoint
    from pseudopeople_spark.linkage import blocking
    from pseudopeople_spark.linkage.pipeline import ResolveConfig, candidate_blocks, normalize_records
    from pseudopeople_spark.session import get_spark

    spark = get_spark(f"profile_{cores}", master=f"local[{cores}]", shuffle_partitions=4 * cores)
    t: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        t[name] = round(time.time() - t0, 2)
        return out

    # reuse the scaling bench's cached deterministic input (run
    # `python tools/bench_scaling.py --prepare <n>` first)
    input_dir = os.environ.get("SCALING_INPUT_DIR", "/tmp/pp_scaling_input")
    records = spark.read.parquet(os.path.join(input_dir, f"records_{n}")).localCheckpoint()
    n_records = records.count()

    rcfg = ResolveConfig()

    # warm the Python workers once so UDF-worker fork/import cost is its own row
    timed("py_worker_warmup", lambda: records.limit(1000).select(
        blocking.double_metaphone_udf(F.col("last_name"))).count())

    # sub-part 1: the stack/phonetic passes only (metaphone UDF + soundex + ssn)
    timed("blocking_stack_only", lambda: blocking.all_block_keys(records, minhash_bands=0).count())
    # sub-part 2: minhash signature table only (explode + hash agg)
    timed("blocking_minhash_only", lambda: blocking._minhash_sig_table(
        records.where(F.length(F.concat_ws(" ", F.coalesce(F.col("first_name"), F.lit("")),
                                           F.coalesce(F.col("last_name"), F.lit("")))) > 1)
        .select(F.col("record_id"), F.concat_ws(" ", F.coalesce(F.col("first_name"), F.lit("")),
                                                F.coalesce(F.col("last_name"), F.lit(""))).alias("_nm")),
        F.col("_nm"), "record_id", 8, 1337).count())
    # sub-part 3: the full stage exactly as resolve() runs it (plan + checkpoint)
    blocks = timed("blocking_full_ckpt", lambda: _capped_local_checkpoint(candidate_blocks(records, rcfg)))
    n_blocks = blocks.count()

    # pairs-stage sub-parts (the scaling bench shows a large fixed
    # component here: 391s@2c vs 234s@8c => ~180s that does not
    # parallelize — attribute it):
    from pseudopeople_spark.linkage import pairs as pairgen
    from pseudopeople_spark.linkage import scoring

    raw_pairs = pairgen.pairs_from_blocks(blocks, max_block_size=rcfg.max_block_size, dedup=False)
    snb = blocking.sorted_neighborhood_pairs(
        records, ["last_name", "first_name", "dob"], window_size=rcfg.snb_window
    ).select("id_l", "id_r")
    union_pairs = raw_pairs.unionByName(snb)
    timed("pairs_gen_nodedup_count", lambda: union_pairs.count())
    deduped = union_pairs.repartition("id_l").dropDuplicates(["id_l", "id_r"])
    timed("pairs_dedup_count", lambda: deduped.count())
    cand = timed("pairs_full_ckpt", lambda: _capped_local_checkpoint(
        union_pairs.repartition("id_l").dropDuplicates(["id_l", "id_r"])))
    n_pairs = cand.count()
    t["n_pairs"] = n_pairs

    # scoring sub-parts: the co-partitioned attach joins alone (the
    # large-input regime's extra cost), then the stage as resolve() runs it
    with_fields = scoring.attach_pair_fields(cand, records, list(scoring.LOOKUP_FIELDS))
    timed("scoring_attach_count", lambda: with_fields.count())
    matched = scoring.match_pairs(
        cand, records, n_records, threshold=rcfg.threshold, same_dataset_distinct=True
    )
    timed("scoring_full_ckpt", lambda: _capped_local_checkpoint(matched).count())

    # clustering sub-parts on the real edge distribution: fabricate edges
    # from blocks the same way the pipeline would end up with matches —
    # use truth-free proxy: pair each record with its same-ssn partner.
    from pseudopeople_spark.linkage.clustering import _local_union_find

    edges = (
        records.where(F.length("ssn_digits") == 9)
        .groupBy("ssn_digits").agg(F.min("record_id").alias("a"), F.max("record_id").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.xxhash64("a").alias("u"), F.xxhash64("b").alias("v"))
        .localCheckpoint()
    )
    n_edges = edges.count()
    t0 = time.time()
    pdf = edges.toPandas()
    t["cc_toPandas"] = round(time.time() - t0, 2)
    t0 = time.time()
    _ = _local_union_find(edges)
    t["cc_local_union_find_total"] = round(time.time() - t0, 2)

    print(json.dumps({"cores": cores, "n_records": n_records, "n_blocks": n_blocks,
                      "n_edges": n_edges, "parts": t}))
    spark.stop()


if __name__ == "__main__":
    main()
