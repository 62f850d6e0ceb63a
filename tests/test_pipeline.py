"""End-to-end pipeline vs pure-Python oracle (FIXTURES.md F5 gates 2-4)."""

from __future__ import annotations

import numpy as np
import pytest

from cuda_selection_criteria_spark.corpus import generate_pages, extract_text
from cuda_selection_criteria_spark.oracle import (
    DedupConfig,
    connected_components as uf_components,
    oracle_dup_pairs,
)
from cuda_selection_criteria_spark.pipeline import dedup_pipeline, pages_from_corpus

N_ROWS = 220
SEED = 42


@pytest.fixture(scope="module")
def corpus():
    rows, truth = generate_pages(N_ROWS, SEED)
    return rows, truth


@pytest.fixture(scope="module")
def oracle_pairs(corpus):
    rows, _ = corpus
    return oracle_dup_pairs([(r.url, r.text) for r in rows])


@pytest.fixture(scope="module")
def result(spark, corpus):
    pages = pages_from_corpus(spark, N_ROWS, SEED, partitions=4)
    res = dedup_pipeline(pages)
    pairs = {(r.url_a, r.url_b): r.jaccard for r in res.dup_pairs.collect()}
    clusters = {r.url: r.cluster_id for r in res.clusters.collect()}
    return pairs, clusters


def test_text_byte_identity(corpus):
    rows, _ = corpus
    assert all(extract_text(r.html) == r.text for r in rows)


def test_dup_pairs_match_oracle(result, oracle_pairs):
    got, _ = result
    expect = {tuple(sorted((a, b))): j for a, b, j in oracle_pairs}
    inter = set(got) & set(expect)
    recall = len(inter) / len(expect)
    precision = len(inter) / len(got) if got else 1.0
    assert recall >= 0.99, f"recall {recall}"
    assert precision >= 0.99, f"precision {precision}"
    for k in inter:
        assert abs(got[k] - expect[k]) < 1e-9


def test_clusters_match_union_find(result, oracle_pairs):
    _, got_clusters = result
    # oracle components over the same pair set
    comp = uf_components([(a, b) for a, b, _ in oracle_pairs])
    # same partition: group urls by cluster label on both sides
    def groups(d):
        g = {}
        for url, c in d.items():
            g.setdefault(c, set()).add(url)
        return {frozenset(v) for v in g.values()}

    assert groups(got_clusters) == groups(comp)


def test_planted_exact_duplicates_found(result, corpus):
    got, _ = result
    rows, truth = corpus
    # exact byte-duplicate clusters must be found with jaccard ~1
    by_text = {}
    for r in rows:
        if r.url in truth:
            by_text.setdefault(r.text, []).append(r.url)
    exact_pairs = [
        tuple(sorted((us[0], u)))
        for us in by_text.values()
        if len(us) > 1 and len(us[0]) > 100
        for u in us[1:]
    ]
    found = sum(1 for p in exact_pairs if p in got)
    assert found >= 0.99 * len(exact_pairs)
    for p in exact_pairs:
        if p in got:
            assert got[p] > 0.97


def test_determinism_two_runs(spark, result):
    got, _ = result
    pages = pages_from_corpus(spark, N_ROWS, SEED, partitions=7)  # different layout
    res2 = dedup_pipeline(pages)
    got2 = {(r.url_a, r.url_b): r.jaccard for r in res2.dup_pairs.collect()}
    assert got == got2


def test_verify_fans_out_single_partition_candidates(spark):
    """Candidates that arrive as one partition (AQE folds the pair-dedup
    shuffle's 32-byte rows into one) are verified on several partitions,
    with exactly the pairs and jaccards of one pass over all of them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cuda_selection_criteria_spark.operators import (
        candidate_pairs,
        sketch_pages,
        verify_pairs,
    )
    from cuda_selection_criteria_spark.operators.verify import _verify_batches

    cfg = DedupConfig()
    pages = pages_from_corpus(spark, N_ROWS, SEED, partitions=4)
    sk = sketch_pages(pages, cfg).localCheckpoint(eager=True)
    cands = candidate_pairs(sk, cfg).coalesce(1).localCheckpoint(eager=True)
    assert cands.rdd.getNumPartitions() == 1
    out = (
        verify_pairs(cands, sk, cfg)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    assert out.select("pid").distinct().count() > 1
    got = {(r.url_a, r.url_b, r.jaccard) for r in out.collect()}

    payload = sk.select("url_id", "url", "hll14").toPandas()
    one = cands.toPandas()
    for side in ("a", "b"):
        one = one.merge(
            payload.rename(
                columns={"url_id": f"id_{side}", "url": f"url_{side}", "hll14": f"hll_{side}"}
            ),
            on=f"id_{side}",
        )
    want = pd.concat(list(_verify_batches(cfg)(iter([one]))))
    assert len(want) > 1
    assert got == set(want.itertuples(index=False, name=None))


def test_worker_zipimport_guard_and_late_py_file(spark, tmp_path):
    """A package UDF installs the zipimport guard in its worker, and a zip
    shipped with addPyFile after the workers started (a new zipimporter
    in a worker that already guards the old ones) imports in a later
    task."""
    import importlib
    import sys
    import zipfile

    import pandas as pd

    from cuda_selection_criteria_spark.zipimport_guard import (
        WORKER_PROBE_SCHEMA,
        worker_probe,
    )

    four = spark.range(4, numPartitions=4)
    rows = four.mapInPandas(worker_probe, WORKER_PROBE_SCHEMA).collect()
    assert {r.installed for r in rows} == {sys.version_info < (3, 12)}

    mod = "late_py_file_probe"
    path = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def use(batches):
        value = importlib.import_module(mod).VALUE
        for pdf in batches:
            yield pd.DataFrame({"v": [value] * len(pdf)})

    assert [r.v for r in four.mapInPandas(use, "v long").collect()] == [42] * 4
