"""Explicit two-level salting of the parity band join (SURVEY §4 skew
promise): a template clique (identical pages on one hot domain) floods
one band bucket; salting must spread the pair work across s^2 shuffle
keys without changing the emitted pair set."""

from __future__ import annotations

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.operators.candidates import (
    _drop_oversized,
    _salt,
    candidate_pairs,
    explode_bands,
)
from cuda_selection_criteria_spark.operators import sketch_pages
from cuda_selection_criteria_spark.oracle import DedupConfig

CFG = DedupConfig(tau=0.9, shingle_k=16, smh_m=64, hll_p=14)
CLIQUE = 60
SALT_TARGET = 16


def _pages(spark):
    template = (
        "identical template page body served for every product url on "
        "the hot domain with enough text to shingle robustly " * 3
    )
    rows = [(f"hot/{i:03d}", template) for i in range(CLIQUE)]
    rows += [
        (f"cold/{i}", f"unique cold page number {i} with its own distinct words "
         f"and enough length to produce a real shingle set for document {i}")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_salted_pairs_identical_to_unsalted(spark):
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    base = {
        (r.id_a, r.id_b) for r in candidate_pairs(sk, CFG).collect()
    }
    salted = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(sk, CFG, salt_target=SALT_TARGET).collect()
    }
    assert salted == base
    # the clique contributes all its pairs
    assert len(base) >= CLIQUE * (CLIQUE - 1) // 2


def test_salt_bounds_per_key_join_work(spark):
    """No single (band, salt_a, salt_b) join key may hold more than
    ~salt_target rows per side — the straggler-task bound the salting
    exists to enforce. Checked on the operator's own salted a-side."""
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    key = ["band_id", "band"]
    bands, sizes = _drop_oversized(explode_bands(sk, CFG), key, None)
    # the hot bucket really is hot (every clique member shares every band)
    assert sizes.agg(F.max("_n")).collect()[0][0] >= CLIQUE
    a = bands.select(*key, F.col("url_id").alias("id_a"), F.col("card_i").alias("card_a"))
    b = bands.select(*key, F.col("url_id").alias("id_b"), F.col("card_i").alias("card_b"))
    a, _ = _salt(a, b, key, sizes.withColumnRenamed("_n", "_load"), SALT_TARGET)
    per_key = a.groupBy(*key, "sa", "sb").agg(F.count("*").alias("rows"))
    max_side = per_key.agg(F.max("rows")).collect()[0][0]
    # xxhash64 spreads the clique near-uniformly; 2x headroom on the target
    assert max_side <= 2 * SALT_TARGET


# ------------------------------------------------ LSH flood guard (cap)

CAP = CLIQUE // 2  # drops the clique's buckets, keeps every cold one


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _clique_ids(sk):
    return {r.url_id for r in sk.where(F.col("url").startswith("hot/")).collect()}


def test_band_cap_drops_clique_in_all_and_star_mode(spark):
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    hot = _clique_ids(sk)
    for pairing in ("all", "star"):
        base = _pair_set(candidate_pairs(sk, CFG, bucket_pairing=pairing))
        capped = _pair_set(
            candidate_pairs(sk, CFG, max_band_bucket=CAP, bucket_pairing=pairing)
        )
        assert capped < base, pairing  # strict subset: the guard fired
        assert not {p for p in capped if p[0] in hot and p[1] in hot}, pairing
        # every dropped pair belongs to the clique (its buckets alone are over)
        assert all(a in hot and b in hot for a, b in base - capped), pairing


def test_band_cap_with_salt_equals_cap_alone(spark):
    sk = sketch_pages(_pages(spark), CFG).localCheckpoint(eager=True)
    capped = _pair_set(candidate_pairs(sk, CFG, max_band_bucket=CAP))
    both = _pair_set(
        candidate_pairs(sk, CFG, max_band_bucket=CAP, salt_target=SALT_TARGET)
    )
    assert both == capped
    # a cap above the clique keeps it; salting then splits it, same pairs
    kept = _pair_set(candidate_pairs(sk, CFG, max_band_bucket=CLIQUE))
    kept_salted = _pair_set(
        candidate_pairs(sk, CFG, max_band_bucket=CLIQUE, salt_target=SALT_TARGET)
    )
    assert kept_salted == kept
    assert len(kept) >= CLIQUE * (CLIQUE - 1) // 2
