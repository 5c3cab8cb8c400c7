"""Noise pipeline driver — applies row noise then column noise in the
reference's fixed declaration order (reference ``noise_dataset``,
``src/pseudopeople/noise.py:28-120``; order asserted by its
``tests/unit/test_noise_form.py:111-203``).

The whole pipeline composes into ONE Spark plan: row noise = hash
filters (+ one join for guardian duplication), column noise = a chain
of ``when(mask, noised).otherwise(col)`` projections — Catalyst
collapses the projection chain into a single whole-stage-codegen'd map,
so N noise operators cost one pass over the data regardless of N.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pseudopeople_spark import datasets as D
from pseudopeople_spark.operators import assets
from pseudopeople_spark.operators import column_noise as cn
from pseudopeople_spark.operators import row_noise as rn
from pseudopeople_spark.operators.kernels import apply_token_noise_all_columns

OVERSAMPLED_DATASETS = {"american_community_survey", "current_population_survey"}


def noise_dataset(
    df: DataFrame,
    spec: D.DatasetSpec,
    config: "Mapping[str, Any]",
    seed: int = 0,
    key_col: str = "record_id",
    scale_by_eligibility: bool = True,
) -> DataFrame:
    """Apply the dataset's full noise plan. ``config`` is the resolved
    per-dataset tree from :func:`pseudopeople_spark.config.get_config`.
    """
    ds_cfg = config[spec.name]
    row_cfg = ds_cfg.get("row_noise", {})
    col_cfg = ds_cfg.get("column_noise", {})

    # --- row noise, declaration order (duplicate_with_guardian, do_not_respond, omit_row)
    for nt in D.ROW_NOISE_ORDER:
        if nt not in spec.row_noise_types or nt not in row_cfg:
            continue
        params = row_cfg[nt]
        if nt == D.DUPLICATE_WITH_GUARDIAN:
            p18 = params.get("row_probability_in_households_under_18", 0.02)
            p24 = params.get("row_probability_in_college_group_quarters_under_24", 0.05)
            if (p18 > 0 or p24 > 0) and "guardian_1" in df.columns:
                df = rn.duplicate_with_guardian(df, key_col, p_under_18=p18, p_college=p24, seed=seed)
        elif nt == D.DO_NOT_RESPOND:
            p = params.get("row_probability", 0.0)
            if p > 0:
                df = rn.do_not_respond(
                    df, key_col, configured_level=p,
                    default_level=rn.DNR_DEFAULT_LEVELS.get(spec.name, rn.DNR_DEFAULT_LEVEL),
                    oversample_adjust=spec.name in OVERSAMPLED_DATASETS,
                    cps_additive=rn.CPS_NONRESPONSE_ADDITIVE
                    if spec.name == "current_population_survey" else 0.0,
                    seed=seed,
                )
        elif nt == D.OMIT_ROW:
            p = params.get("row_probability", 0.0)
            if p > 0:
                df = rn.omit_rows(df, key_col, p=p, seed=seed)

    # --- one int64 CRN base key for ALL column-noise draws: the string
    # record id is hashed ONCE per row here instead of inside every
    # draw (~60 draws/row hash the key; hashing a fixed-width int64 is
    # ~3.5x cheaper than re-walking the id string — see crn.hash_u01).
    # Computed AFTER row noise so guardian-duplicated rows (new ids) get
    # their own base key. Draws stay keyed only by record identity:
    # partition/executor invariance is unchanged.
    # The pre-hash is 64 bits, so distinct ids collide at the birthday
    # rate: about n^2/2^65 row pairs at n rows (~3e-8 at 1M rows, ~0.03
    # at 1e9, ~3e4 at 1e12). A colliding pair draws identical
    # column-noise decisions; it never changes a row's identity.
    crn_key = "__crn64"
    df = df.withColumn(crn_key, F.xxhash64(F.col(key_col)))

    # --- eligibility-scaling proportions (reference noise_scaling.py:
    # 26-45): ONE aggregate over the row-noised data computes every
    # proportion the scaled operators need, crossJoined ONCE as a
    # broadcast 1-row frame. (A per-operator crossJoin(agg(self))
    # doubles the self-referencing plan per operator — taxes_1040 has 6
    # copy-noise columns and the analyzer's DeduplicateRelations then
    # walks 2^k duplicated subtrees; observed as a 30-minute analysis.)
    # Streaming plans cannot host an unwatermarked global aggregate, so
    # streams apply p to eligible cells directly (documented,
    # conservative).
    prop_aggs = []
    prop_cols: "dict[tuple[str, str], str]" = {}
    if scale_by_eligibility and not df.isStreaming:
        nick_names = list(assets.NICKNAMES)
        for col in spec.columns:
            c_cfg = col_cfg.get(col.name, {})
            if col.name not in df.columns:
                continue
            notna = F.col(col.name).isNotNull() & (F.col(col.name).cast("string") != "")
            if (
                D.COPY_FROM_HOUSEHOLD_MEMBER in c_cfg
                and c_cfg[D.COPY_FROM_HOUSEHOLD_MEMBER].get("cell_probability", 0.0) > 0
                and col.copy_column and col.copy_column in df.columns
            ):
                tag = f"__prop_copy_{col.name}"
                prop_aggs.append(
                    cn.eligibility_proportion_expr(notna & F.col(col.copy_column).isNotNull(), notna, tag)
                )
                prop_cols[(col.name, D.COPY_FROM_HOUSEHOLD_MEMBER)] = tag
            if (
                D.USE_NICKNAME in c_cfg
                and c_cfg[D.USE_NICKNAME].get("cell_probability", 0.0) > 0
            ):
                tag = f"__prop_nick_{col.name}"
                # isin over the 1,080 table keys compiles to an InSet —
                # same eligibility as the broadcast join, no plan growth
                prop_aggs.append(
                    cn.eligibility_proportion_expr(notna & F.col(col.name).isin(nick_names), notna, tag)
                )
                prop_cols[(col.name, D.USE_NICKNAME)] = tag
    if prop_aggs:
        df = df.crossJoin(F.broadcast(df.agg(*prop_aggs)))

    # --- column noise, declaration order per column. Token noise
    # (phonetic/OCR/typos) is collected across ALL columns and applied
    # through ONE pandas UDF at the end — token ops are the last ops in
    # the per-column order and are column-local, so batching them after
    # the built-in ops is semantics-preserving and costs a single Arrow
    # crossing for the whole dataset.
    all_token_plans: "list[tuple[str, list]]" = []
    for col in spec.columns:
        c_cfg = col_cfg.get(col.name, {})
        token_plan = []
        for nt in D.COLUMN_NOISE_ORDER:
            if nt not in col.noise_types or nt not in c_cfg:
                continue
            params = c_cfg[nt]
            p = params.get("cell_probability", 0.0)
            if p <= 0:
                continue
            tp = params.get("token_probability", 0.1)
            if nt == D.LEAVE_BLANK:
                df = cn.leave_blank(df, col.name, crn_key, p=p, seed=seed)
            elif nt == D.CHOOSE_WRONG_OPTION:
                # draw universe: the asset table (reference
                # incorrect_select_options.csv order) — col.options is
                # only a fallback for columns the reference CSV lacks
                opts = assets.select_options_for(col.name) or col.options
                df = cn.choose_wrong_option(df, col.name, crn_key, options=opts, p=p, seed=seed)
            elif nt == D.COPY_FROM_HOUSEHOLD_MEMBER:
                if col.copy_column and col.copy_column in df.columns:
                    df = cn.copy_from_household_member(
                        df, col.name, crn_key, col.copy_column, p=p, seed=seed,
                        proportion_col=prop_cols.get((col.name, nt)),
                    )
            elif nt == D.SWAP_MONTH_AND_DAY:
                df = cn.swap_month_and_day(df, col.name, crn_key, date_format=spec.date_format, p=p, seed=seed)
            elif nt == D.WRITE_WRONG_ZIPCODE_DIGITS:
                df = cn.write_wrong_zipcode_digits(
                    df, col.name, crn_key, p=p,
                    digit_probabilities=params.get("digit_probabilities", [0.04, 0.04, 0.2, 0.36, 0.36]),
                    seed=seed,
                )
            elif nt == D.MISREPORT_AGE:
                df = cn.misreport_age(
                    df, col.name, crn_key, p=p,
                    age_differences=params.get("possible_age_differences"), seed=seed,
                )
            elif nt == D.WRITE_WRONG_DIGITS:
                df = cn.write_wrong_digits(df, col.name, crn_key, p=p, token_probability=tp, seed=seed)
            elif nt == D.USE_NICKNAME:
                df = cn.use_nickname(
                    df, col.name, crn_key, assets.NICKNAMES, p=p, seed=seed,
                    proportion_col=prop_cols.get((col.name, nt)),
                )
            elif nt == D.USE_FAKE_NAME:
                fakes = assets.FAKE_FIRST_NAMES if "first" in col.name or "middle" in col.name else assets.FAKE_LAST_NAMES
                df = cn.use_fake_name(df, col.name, crn_key, fakes, p=p, seed=seed)
            elif nt == D.MAKE_PHONETIC_ERRORS:
                token_plan.append(("make_phonetic_errors", assets.PHONETIC_VARIANTS, p, tp))
            elif nt == D.MAKE_OCR_ERRORS:
                token_plan.append(("make_ocr_errors", assets.OCR_ERRORS, p, tp))
            elif nt == D.MAKE_TYPOS:
                token_plan.append(("make_typos", assets.QWERTY_NEIGHBORS, p, tp))
        if token_plan:
            all_token_plans.append((col.name, token_plan))
    if all_token_plans:
        df = apply_token_noise_all_columns(df, all_token_plans, crn_key, seed=seed)

    # final projection to the declared output schema, declared order
    keep = [c for c in spec.column_names if c in df.columns]
    return df.select(key_col, *keep)
