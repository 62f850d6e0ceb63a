"""Verify stage: exact reference Jaccard over the primary p=14 HLLs.

Replaces the reference's inner verification
(/root/reference/src/selection.cpp:286-288): t = union_size(hllA, hllB)
via elementwise register max + Ertl-MLE (hll.h:1188-1210), then
J = (e1 + e2 - t) / t with size_t-truncated e1, e2, keep iff J >= tau.

The candidates are spread over the cores before the blob joins, so
verify runs one task per core instead of the single task AQE's
byte-based coalescing leaves it (a candidate row is 32 B, verifying
it moves ~10 KB of register blobs). Per Arrow batch, one numpy pass
builds each pair's union register histogram straight from the sparse
blobs (``sketchlib.batch.union_histograms``, O(nnz) per pair, never a
dense [batch, 2^p] matrix) and runs the batched Ertl-MLE over them.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..oracle import DedupConfig
from ..sketchlib.hll import ertl_mle_batch

VERIFY_SCHEMA = "url_a string, url_b string, jaccard double"
VERIFY_SCHEMA_IDS = "id_a long, id_b long, url_a string, url_b string, jaccard double"


def _verify_batches(cfg: DedupConfig, with_ids: bool = False):
    p = cfg.hll_p
    tau = cfg.tau

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sketchlib.batch import union_histograms

        for pdf in batches:
            if len(pdf) == 0:
                continue
            hist = union_histograms(list(pdf["hll_a"]), list(pdf["hll_b"]), p)
            t = ertl_mle_batch(hist, p)
            e1 = pdf["card_a"].values.astype(np.float64)
            e2 = pdf["card_b"].values.astype(np.float64)
            jacc = (e1 + e2 - t) / t
            keep = jacc >= tau
            # canonical output order: url_a < url_b
            ua = pdf["url_a"].values[keep]
            ub = pdf["url_b"].values[keep]
            jj = jacc[keep]
            swap = ua > ub
            out = {
                "url_a": np.where(swap, ub, ua),
                "url_b": np.where(swap, ua, ub),
                "jaccard": jj,
            }
            if with_ids:
                ia = pdf["id_a"].values[keep]
                ib = pdf["id_b"].values[keep]
                out = {
                    # ids swap WITH the urls so (id_a, url_a) stay paired
                    "id_a": np.where(swap, ib, ia),
                    "id_b": np.where(swap, ia, ib),
                    **out,
                }
            yield pd.DataFrame(out)

    return fn


def verify_pairs(
    candidates: DataFrame,
    sketches: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    with_ids: bool = False,
) -> DataFrame:
    """(id_a, id_b, card_a, card_b) + sketches -> dup_pairs(url_a, url_b, jaccard).

    Two hash joins pull in the register blobs only for surviving
    candidates (the expensive payload never rides the band shuffle).
    The candidates are first repartitioned to default parallelism, one
    task per core: AQE never coalesces an explicit-count exchange, while
    its byte-based coalescing folds the pair-dedup shuffle's 32-byte
    rows into a single verify task. The count matters only while both
    joins broadcast; a sketch table too large to broadcast is joined by
    shuffles at the session's width, which re-shuffle the candidates on
    id_a. The round-robin exchange is then pure extra cost, accepted:
    0.01-0.08 s on 7.5k pairs with sort-merge joins forced, inside the
    run-to-run spread. Not the shuffle width: a second wave of Python
    tasks cost more than it saved (7.5k pairs: 1.00 s verify at 4
    tasks, 1.38 s at 8, on a 4-core host). Most of that per-task cost
    was CPython < 3.12 re-reading the directories of pyspark.zip and the
    spark-core jar at every task start (~0.2 s), which
    ``zipimport_guard`` now skips; a one-row mapInPandas job still
    takes ~0.05 s longer than a JVM-only one.

    ``with_ids=True`` additionally carries the surrogate id spine
    (id_a, id_b) through to the output so downstream consumers
    (connected components, pipeline.py) reuse the SAME ids the
    candidate join used instead of re-deriving ids by hashing urls —
    re-hashing would silently reintroduce the 64-bit collision hazard
    the dense id spine exists to close.
    """
    width = candidates.sparkSession.sparkContext.defaultParallelism
    payload = sketches.select("url_id", "url", "hll14")
    joined = (
        candidates.repartition(width)
        .join(
            payload.select(
                F.col("url_id").alias("id_a"),
                F.col("url").alias("url_a"),
                F.col("hll14").alias("hll_a"),
            ),
            "id_a",
        )
        .join(
            payload.select(
                F.col("url_id").alias("id_b"),
                F.col("url").alias("url_b"),
                F.col("hll14").alias("hll_b"),
            ),
            "id_b",
        )
        .select(
            *(["id_a", "id_b"] if with_ids else []),
            "url_a", "url_b", "card_a", "card_b", "hll_a", "hll_b",
        )
    )
    return joined.mapInPandas(
        _verify_batches(cfg, with_ids=with_ids),
        schema=VERIFY_SCHEMA_IDS if with_ids else VERIFY_SCHEMA,
    )
