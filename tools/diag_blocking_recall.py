"""Per-pass blocking-recall diagnosis (round-5 task #3).

Which true pairs does each blocking pass surface, which does NO pass
surface, and WHY? Runs against the cached scaling input
(/tmp/pp_scaling_input/records_N + truth_N) so numbers are directly
comparable to BENCH/SCALING.md.

Usage: python tools/diag_blocking_recall.py [n_simulants]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from pseudopeople_spark.linkage import blocking  # noqa: E402
from pseudopeople_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    base = os.environ.get("SCALING_INPUT_DIR", "/tmp/pp_scaling_input")
    spark = get_spark("diag_blocking", master="local[16]", shuffle_partitions=64)
    records = spark.read.parquet(os.path.join(base, f"records_{n}")).localCheckpoint()
    truth = spark.read.parquet(os.path.join(base, f"truth_{n}"))

    lab = truth.select("record_id", F.col("simulant_id").alias("label"))
    l = lab.select(F.col("record_id").alias("id_l"), F.col("label").alias("label_l"))
    r = lab.select(F.col("record_id").alias("id_r"), F.col("label").alias("label_r"))
    true_pairs = (
        l.join(r, F.col("label_l") == F.col("label_r"))
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .localCheckpoint()
    )
    total = true_pairs.count()
    print(f"true pairs: {total}")

    blocks = blocking.all_block_keys(records).localCheckpoint()
    # tag each block key with its pass prefix
    pass_of = F.regexp_extract("block_key", r"^([a-z]+)", 1)

    # per-pass recall: for each pass, pairs co-blocked under a key of
    # that pass (ignoring the size cap — this is the key-coverage view)
    per_pass = {}
    for p in ["sdx", "dmp", "dms", "ssn", "mh"]:
        bp = blocks.where(pass_of == p)
        found = (
            true_pairs.alias("t")
            .join(bp.alias("a"), F.col("t.id_l") == F.col("a.record_id"))
            .join(
                bp.alias("b"),
                (F.col("t.id_r") == F.col("b.record_id"))
                & (F.col("a.block_key") == F.col("b.block_key")),
                "left_semi",
            )
            .select("t.id_l", "t.id_r")
            .distinct()
            .count()
        )
        per_pass[p] = round(found / total, 5)
        print(f"pass {p}: key-coverage recall {per_pass[p]} ({found})")

    # SNB pass (pair-generating, not key-based)
    snb = blocking.sorted_neighborhood_pairs(
        records, ["last_name", "first_name", "dob"]
    ).select("id_l", "id_r")
    snb_found = true_pairs.join(snb, ["id_l", "id_r"], "left_semi").count()
    per_pass["snb"] = round(snb_found / total, 5)
    print(f"pass snb: recall {per_pass['snb']} ({snb_found})")

    # actual candidate set (with size caps) — the real blocking recall
    from pseudopeople_spark.linkage import pairs as pairgen

    cand = pairgen.pairs_from_blocks(blocks)
    cand = cand.unionByName(snb).dropDuplicates(["id_l", "id_r"]).localCheckpoint()
    found = true_pairs.join(cand, ["id_l", "id_r"], "left_semi").count()
    print(f"ACTUAL blocking recall (with caps): {round(found/total,5)} ({found}/{total})")

    # the missed pairs, with both records' fields for autopsy
    missed = true_pairs.join(cand, ["id_l", "id_r"], "left_anti").localCheckpoint()
    n_missed = missed.count()
    print(f"missed true pairs: {n_missed}")

    fields = ["record_id", "dataset", "first_name", "last_name", "dob", "byear",
              "ssn_digits", "zipcode", "sex"]
    recl = records.select(*[F.col(c).alias(f"l_{c}") for c in fields])
    recr = records.select(*[F.col(c).alias(f"r_{c}") for c in fields])
    m = (
        missed.join(recl, missed.id_l == recl.l_record_id)
        .join(recr, missed.id_r == recr.r_record_id)
    )

    # categorize: which fields differ / are null
    cats = m.select(
        (F.col("l_last_name").isNull() | F.col("r_last_name").isNull()).alias("last_null"),
        (F.col("l_first_name").isNull() | F.col("r_first_name").isNull()).alias("first_null"),
        (F.coalesce(F.col("l_byear"), F.lit("")) != F.coalesce(F.col("r_byear"), F.lit(""))).alias("byear_diff"),
        (F.col("l_ssn_digits").isNull() | F.col("r_ssn_digits").isNull()
         | (F.length("l_ssn_digits") != 9) | (F.length("r_ssn_digits") != 9)
         | (F.col("l_ssn_digits") != F.col("r_ssn_digits"))).alias("no_ssn_match"),
        (F.coalesce(F.col("l_last_name"), F.lit("")) != F.coalesce(F.col("r_last_name"), F.lit(""))).alias("last_diff"),
        (F.coalesce(F.col("l_first_name"), F.lit("")) != F.coalesce(F.col("r_first_name"), F.lit(""))).alias("first_diff"),
        (F.col("l_dataset") == F.col("r_dataset")).alias("same_dataset"),
    )
    agg = cats.agg(
        F.count("*").alias("n"),
        *[F.sum(F.col(c).cast("long")).alias(c) for c in
          ["last_null", "first_null", "byear_diff", "no_ssn_match", "last_diff", "first_diff", "same_dataset"]],
    ).first()
    print("missed-pair categories:", json.dumps(agg.asDict(), default=int))

    # cross-tab of the main suspects
    xt = (
        cats.groupBy("byear_diff", "last_diff", "last_null", "no_ssn_match")
        .count().orderBy(F.desc("count")).limit(12).collect()
    )
    for row in xt:
        print("  ", row.asDict())

    # raw sample for eyeballing
    print("sample missed pairs:")
    for row in m.select(
        "l_first_name", "l_last_name", "l_dob", "l_ssn_digits", "l_dataset",
        "r_first_name", "r_last_name", "r_dob", "r_ssn_digits", "r_dataset",
    ).limit(25).collect():
        d = row.asDict()
        print("  L:", (d["l_first_name"], d["l_last_name"], d["l_dob"], d["l_ssn_digits"], d["l_dataset"]),
              " R:", (d["r_first_name"], d["r_last_name"], d["r_dob"], d["r_ssn_digits"], d["r_dataset"]))
    spark.stop()


if __name__ == "__main__":
    main()
