"""Unit tests for documents/embeddings analytics operators."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.functions import (
    embedding_knn,
    exact_dup_groups,
    ngram_jaccard_pairs,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy cat",
                "completely different text here with other words",
                "the quick brown fox jumps over the lazy dog",
                "",
            ],
            "lang": ["en", "en", "en", "en", "de"],
            "source": ["a", "a", "b", "b", "b"],
            "n_chars": [44, 44, 48, 44, 0],
        }
    )
    return spark.createDataFrame(pdf)


def test_exact_dup_groups(docs):
    rows = exact_dup_groups(docs).collect()
    assert len(rows) == 1
    assert rows[0].canonical_id == 1 and rows[0].n_docs == 2


def test_ngram_jaccard(docs):
    rows = ngram_jaccard_pairs(docs, k=5, min_jaccard=0.5, max_df=None).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert (1, 3) not in pairs


def test_token_stats_empty_text(docs):
    rows = {r.lang: r for r in token_stats(docs).collect()}
    assert rows["de"].total_tokens == 0
    assert rows["en"].n_docs == 4


def test_embedding_knn(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [
                [1.0, 0.0, 0.0],
                [0.9, 0.1, 0.0],
                [0.0, 1.0, 0.0],
                [0.0, 0.0, 0.0],  # zero vector excluded
            ],
            "label": [0, 0, 1, 1],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    rows = {r.vec_id: r.neighbor_id for r in embedding_knn(df).collect()}
    assert rows[0] == 1 and rows[1] == 0
    assert 3 not in rows


def test_embedding_knn_lone_vector_has_no_neighbour(spark):
    """A vector whose only non-zero-norm peer is itself emits nothing,
    at k=1 as at k>1 (it used to come back as its own neighbour at -inf)."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert embedding_knn(df, k=1).collect() == []
    assert embedding_knn(df, k=3).collect() == []


def test_ngram_jaccard_hash_key_matches_gram(spark):
    """key='hash' (8-byte shuffle keys, scale default) must reproduce
    the key='gram' result exactly on the corpus."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    gram = {
        (r.doc_a, r.doc_b): (r.inter_n, r.union_n, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=5, min_jaccard=0.5, max_df=100, key="gram").collect()
    }
    hashed = {
        (r.doc_a, r.doc_b): (r.inter_n, r.union_n, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=5, min_jaccard=0.5, max_df=100, key="hash").collect()
    }
    assert gram == hashed and len(gram) > 0
