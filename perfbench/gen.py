"""Seeded input generators. The same seed always gives the same tables;
the program under test only ever sees the parquet files written here."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows of the sf0.1 `documents` table of the project's test data
#: (TESTDATA.md): those with doc_id < 2500, plus every other member of
#: a planted duplicate group one of them belongs to (exact copies, and
#: the documents a " dup"-suffixed near-copy repeats). 2615 documents
#: of 10-100 words over a 31-word vocabulary.
DOCUMENTS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet")


def corpus_pages(n: int, seed: int) -> tuple[pa.Table, dict]:
    """(url, text) pages from the package's planted-structure generator,
    plus the planted shares: the hot-domain template clique and the
    documents in any planted cluster."""
    from cuda_selection_criteria_spark.corpus import generate_pages

    rows, truth = generate_pages(n, seed)
    hot = sum(1 for r in rows if r.url.startswith("https://hot."))
    table = pa.table({"url": [r.url for r in rows], "text": [r.text for r in rows]})
    return table, {"hot_share": hot / n, "cluster_share": len(truth) / n}


def documents(seed: int) -> pa.Table:
    """The `documents` table the text leaves read: sf0.1's documents with
    every word mapped through a vocabulary permutation the seed picks
    (as tools/make_bigdata.py derives its copies). One mapping for the
    whole table keeps every exact duplicate and near-copy of sf0.1, so
    the work is the same for every seed; only the words differ."""
    t = pq.read_table(DOCUMENTS_SRC)
    texts = t["text"].to_pylist()
    vocab = sorted({w for x in texts for w in x.split(" ")})
    perm = np.random.default_rng(seed).permutation(len(vocab))
    mapping = {w: vocab[j] for w, j in zip(vocab, perm)}
    texts = [" ".join(mapping[w] for w in x.split(" ")) for x in texts]
    return t.set_column(t.schema.get_field_index("text"), "text", pa.array(texts, pa.string())).append_column(
        "n_chars", pa.array([len(x) for x in texts], pa.int64())
    )


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
