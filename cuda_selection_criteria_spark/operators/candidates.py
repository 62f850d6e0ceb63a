"""Candidate generation: a keyed self-join under the CB prune.

Replaces the reference's O(N^2) pair enumeration (src/selection.cpp:
270-291, selection_cuda.cpp:146-150) with the Spark-native
equivalent: a pair survives iff

  - both cardinalities > 0 (selection.cpp:281 skip),
  - CB: min(card)/max(card) >= tau (criteria_sketch.hpp:45-49 — the
    sorted+break loop is just an early-exit evaluation of this same
    symmetric predicate, so no global sort is needed),
  - it shares a join key: for smh_a, SOME band of r consecutive
    signature values is equal (criteria_sketch.hpp:66-81) == equi-join
    on ``(band_id, band)``; for the non-LSH criteria, the same or an
    adjacent log-cardinality bucket ``bkt``, which every CB-surviving
    pair has (``cb_bucket_pairs``).

Joining on the raw band slice (array<long>) makes hash collisions
impossible by construction — band equality IS the join condition.

Both generators share one self-join (``_self_join``: ``id_a < id_b``,
CB before the dedup shuffle, ``dropDuplicates``) and one flood guard:

- ``max_band_bucket`` / ``max_bucket`` (``_drop_oversized``): drop the
  docs of every key holding more rows than the cap (last-resort guard;
  OFF by default, since parity keeps every colliding pair).
- ``salt_target`` (``_salt``): explicit two-level salting, the
  OpenMP-dynamic-schedule analogue the reference uses for skewed
  per-file cost (src/build_sketch.cpp:232; SURVEY §4). A key whose
  per-side load f exceeds the target is split into s = ceil(f / target)
  salt blocks per side; a joins on (key, own salt, every salt) and b on
  (key, every salt, own salt), spreading the f^2 pair work over s^2
  shuffle keys of ~target^2 work each while emitting every pair exactly
  once (a's salt pins sa, b's pins sb). Keys at or under the target are
  untouched (s = 1). OFF by default: AQE skew-join splitting covers
  moderate skew; turn it on when one template clique exceeds what a
  single task should hold.

Sides stay narrow — ``(key, id, card)`` only: no urls, no 16 KiB
register blobs and no aux payload through these shuffles.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..oracle import DedupConfig


def _cb_keep(tau: float) -> Column:
    """The CB predicate over a pair's cardinalities (symmetric form)."""
    return (
        F.least("card_a", "card_b").cast("double")
        / F.greatest("card_a", "card_b").cast("double")
        >= F.lit(tau)
    )


def _drop_oversized(
    rows: DataFrame, key: list[str], max_bucket: int | None
) -> tuple[DataFrame, DataFrame]:
    """-> (rows without the docs of keys over ``max_bucket``, per-key
    sizes ``(*key, _n)`` of the keys kept).

    Caps on each key's OWN size, before the sides are built: capping on
    the exploded join-key load of ``cb_bucket_pairs`` would also drop
    keys k-1/k+1 merely adjacent to a flooded bucket k, silently losing
    their non-flooded pairs.
    """
    sizes = rows.groupBy(*key).agg(F.count("*").alias("_n"))
    if max_bucket is not None:
        over = sizes.where(F.col("_n") > max_bucket).select(*key)
        rows = rows.join(F.broadcast(over), key, "left_anti")
        sizes = sizes.where(F.col("_n") <= max_bucket)
    return rows, sizes


def _salt(
    a: DataFrame, b: DataFrame, key: list[str], load: DataFrame, salt_target: int
) -> tuple[DataFrame, DataFrame]:
    """Two-level salting of the sides ``(*key, id_x, card_x)``; ``load``
    is ``(*key, _load)``, the largest per-side row count of each key.
    Join the results on ``key + ["sa", "sb"]``."""
    hot = F.broadcast(load.where(F.col("_load") > salt_target))
    s = F.ceil(F.coalesce(F.col("_load"), F.lit(1)) / F.lit(salt_target)).cast("int")
    every = F.explode(F.sequence(F.lit(0), s - 1))
    a = a.join(hot, key, "left").select(
        *key,
        F.pmod(F.xxhash64("id_a"), s).cast("int").alias("sa"),
        every.alias("sb"),
        "id_a",
        "card_a",
    )
    b = b.join(hot, key, "left").select(
        *key,
        every.alias("sa"),
        F.pmod(F.xxhash64("id_b"), s).cast("int").alias("sb"),
        "id_b",
        "card_b",
    )
    return a, b


def _self_join(a: DataFrame, b: DataFrame, key: list[str], tau: float) -> DataFrame:
    """-> (id_a, id_b, card_a, card_b), id_a < id_b, CB-surviving, each
    pair once (a pair sharing several keys joins once per key)."""
    return (
        a.join(b, key)
        .where(F.col("id_a") < F.col("id_b"))
        .where(_cb_keep(tau))
        .select("id_a", "id_b", "card_a", "card_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _adjacent(bkt: Column) -> Column:
    return F.explode(F.array(bkt - 1, bkt, bkt + 1))


def cb_bucket_pairs(
    sketches: DataFrame,
    cfg: DedupConfig,
    salt_target: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs for the non-LSH criteria (hll_a / hll_an / cb):
    the Spark-native form of the reference's sorted + prefix-break scan
    (SURVEY.md §2 O1/O2).

    CB(tau, cA, cB) = cA/cB >= tau (cA <= cB) implies
    |floor(log_(1/tau) cA) - floor(log_(1/tau) cB)| <= 1, so an
    equi-join on log-cardinality buckets (right side exploded to
    {b-1, b, b+1}) touches every CB-surviving pair exactly, without a
    global sort or O(N^2) enumeration. The right side must cover BOTH
    adjacent buckets: the join is followed by an ``id_a < id_b`` filter,
    and a straddling pair whose lower-bucket doc has the larger url_id
    only survives in the (a=higher-bucket, b=lower-bucket) orientation.

    Flood guard: at tau=0.9 one bucket spans only ~11% in cardinality,
    and web corpora concentrate document sizes — ~100 buckets cover
    10..10^6-shingle docs, so at 10^12 docs a single bucket holds
    ~10^10 rows and an unguarded self-join is quadratic within it.
    ``salt_target`` and ``max_bucket`` are the module's flood guard; a
    bucket's salting load is the larger side, n_k on a and
    n_{k-1}+n_k+n_{k+1} on b. The criterion itself stays inherently
    pairwise post-CB — that is the reference's hll_a/hll_an semantics
    (selection.cpp evaluates every CB-surviving pair); smh_a's banded
    LSH remains the 10^12-doc scale default, with salting making
    hll_a/hll_an *executable* at scale rather than straggler-bound.
    """
    inv_log = 1.0 / math.log(1.0 / cfg.tau)
    key = ["bkt"]
    rows = sketches.where(F.col("card_i") > 0).select(
        "url_id",
        "card_i",
        F.floor(F.log(F.col("card_i").cast("double")) * F.lit(inv_log)).alias("bkt"),
    )
    if salt_target is not None or max_bucket is not None:
        # log-scale buckets: ~100s of size rows for any corpus, so every
        # join against them broadcasts
        rows, sizes = _drop_oversized(rows, key, max_bucket)
    a = rows.select("bkt", F.col("url_id").alias("id_a"), F.col("card_i").alias("card_a"))
    b = rows.select(
        _adjacent(F.col("bkt")).alias("bkt"),
        F.col("url_id").alias("id_b"),
        F.col("card_i").alias("card_b"),
    )
    if salt_target is not None:
        nb = (
            sizes.select(_adjacent(F.col("bkt")).alias("bkt"), "_n")
            .groupBy("bkt")
            .agg(F.sum("_n").alias("_nb"))
        )
        load = sizes.join(nb, "bkt").select("bkt", F.greatest("_n", "_nb").alias("_load"))
        a, b = _salt(a, b, key, load, salt_target)
        key = key + ["sa", "sb"]
    pairs = _self_join(a, b, key, cfg.tau)
    if "hll_aux" in sketches.columns:
        # late payload attach: the 256 B aux blobs join back AFTER the
        # pair dedup instead of riding the bucket join, the salt explode
        # and the dedup exchange — at 10^10 CB-surviving pairs that is
        # TBs of avoidable shuffle (guide §2.3 / §8), the same shape
        # verify_pairs uses
        for side in ("a", "b"):
            payload = sketches.select(
                F.col("url_id").alias(f"id_{side}"), F.col("hll_aux").alias(f"aux_{side}")
            )
            pairs = pairs.join(payload, f"id_{side}")
    return pairs


def aux_criterion_filter(pairs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """hll_a / hll_an pair predicate over joined aux register blobs
    (criteria_sketch.hpp:52-64), vectorized per Arrow batch."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ..sketchlib.batch import register_histograms
    from ..sketchlib.criteria import sigma
    from ..sketchlib.hll import ertl_mle_batch

    p = cfg.aux_p
    m = 1 << p
    tau, z, order_n = cfg.tau, cfg.z_score, cfg.order_n
    crit = cfg.criterion
    schema = "id_a long, id_b long, card_a long, card_b long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sigma_p = sigma(p)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ra = np.frombuffer(b"".join(pdf["aux_a"]), dtype=np.uint8).reshape(n, m)
            rb = np.frombuffer(b"".join(pdf["aux_b"]), dtype=np.uint8).reshape(n, m)
            hist = register_histograms(np.maximum(ra, rb))
            t_hat = ertl_mle_batch(hist, p)
            ca = np.minimum(pdf["card_a"].values, pdf["card_b"].values).astype(np.float64)
            cb = np.maximum(pdf["card_a"].values, pdf["card_b"].values).astype(np.float64)
            gamma = ca / cb
            if crit == "hll_a":
                t = np.floor(t_hat)  # size_t truncation (criteria_sketch.hpp:61)
                t_mas = t / (1.0 + z * sigma_p)
                keep = ((1.0 + gamma) * cb - t_mas) / t_mas >= tau
            else:  # hll_an
                j_hat = (ca + cb - t_hat) / t_hat
                s = 0.0
                num = 1.0
                for _ in range(order_n):
                    num *= z * sigma_p
                    s += num
                minimo = np.minimum(1.0, (1.0 + z * sigma_p) * cb / t_hat)
                keep = (j_hat + minimo * (1.0 + gamma) * s) >= tau
            out = pdf.loc[keep, ["id_a", "id_b", "card_a", "card_b"]]
            if len(out):
                yield out

    return pairs.mapInPandas(fn, schema=schema)


def explode_bands(sketches: DataFrame, cfg: DedupConfig) -> DataFrame:
    """sketches -> (url_id, card_i, band_id, band) rows, n_bands per doc."""
    n_bands, n_rows = cfg.bands
    slices = F.array(
        *[F.slice(F.col("smh"), b * n_rows + 1, n_rows) for b in range(n_bands)]
    )
    return (
        sketches.where(F.col("card_i") > 0)
        .select("url_id", "card_i", F.posexplode(slices).alias("band_id", "band"))
    )


def candidate_pairs(
    sketches: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    max_band_bucket: int | None = None,
    bucket_pairing: str = "all",
    salt_target: int | None = None,
) -> DataFrame:
    """-> (id_a, id_b, card_a, card_b) candidate pairs, id_a < id_b.

    ``bucket_pairing``:
      - "all" (default, reference parity): every pair within a band
        bucket — a bucket of f near-identical template pages emits
        f(f-1)/2 pairs, exactly like the reference would.
      - "star": each bucket member pairs only with the bucket minimum —
        O(f) pairs, same connected components (the clustering output is
        preserved whenever the bucket min verifies against members,
        which near-identical template cliques do). This is the
        10^12-doc mode: candidate volume becomes linear in corpus size
        instead of quadratic in clique size.

    ``max_band_bucket`` and ``salt_target`` are the module's flood
    guard (cap and salting of band buckets); salting applies to "all"
    only, since star mode emits O(f) pairs per bucket already.
    """
    key = ["band_id", "band"]
    bands = explode_bands(sketches, cfg)
    if bucket_pairing == "star":
        # per-bucket minimum (and size, when capping) as a groupBy
        # aggregate joined back on the band key: partial (map-side)
        # aggregation computes the min in parallel, and the equi-join is
        # AQE-skew-splittable. A Window.partitionBy(band) would funnel
        # every row of a hot bucket into ONE task (windows can't be
        # skew-split) — the exact flood case star mode exists for.
        stats = bands.groupBy(*key).agg(
            F.min(F.struct("url_id", "card_i")).alias("_min"),
            F.count("*").alias("_n"),
        )
        if max_band_bucket is not None:
            stats = stats.where(F.col("_n") <= max_band_bucket)
        # inner join: rows in dropped (oversized) buckets simply don't match
        lo = F.col("url_id") < F.col("_min.url_id")
        return (
            bands.join(stats, key)
            .where(F.col("url_id") != F.col("_min.url_id"))
            .select(
                F.least("url_id", F.col("_min.url_id")).alias("id_a"),
                F.greatest("url_id", F.col("_min.url_id")).alias("id_b"),
                F.when(lo, F.col("card_i")).otherwise(F.col("_min.card_i")).alias("card_a"),
                F.when(lo, F.col("_min.card_i")).otherwise(F.col("card_i")).alias("card_b"),
            )
            .where(_cb_keep(cfg.tau))
            .dropDuplicates(["id_a", "id_b"])
        )
    if max_band_bucket is not None or salt_target is not None:
        bands, sizes = _drop_oversized(bands, key, max_band_bucket)
    a = bands.select(*key, F.col("url_id").alias("id_a"), F.col("card_i").alias("card_a"))
    b = bands.select(*key, F.col("url_id").alias("id_b"), F.col("card_i").alias("card_b"))
    if salt_target is not None:
        # both sides of a band key hold its n rows
        a, b = _salt(a, b, key, sizes.withColumnRenamed("_n", "_load"), salt_target)
        key = key + ["sa", "sb"]
    return _self_join(a, b, key, cfg.tau)
