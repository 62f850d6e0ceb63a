"""The benchmark's workloads.

Each workload writes its seeded inputs once per set-up, runs the
program through its public API (``run``), runs the same work again one
layer call at a time with a span around each call (``traced``), and
checks outputs (``check`` on the cold run, ``digest`` after every run).
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np

from pyspark.sql import functions as F

from cuda_selection_criteria_spark.oracle import DedupConfig

import gen
import probes


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cell(v) -> str:
    return f"{v:.9g}" if isinstance(v, float) else str(v)


def rows_hash(rows, cols) -> str:
    """Order-free hash of a result: rows sorted after their cells are put
    in column-name order; floats compared to 9 significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join(_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ----------------------------------------------------------------- dedup


def cluster_reps(clusters_pdf) -> dict[str, str]:
    """url -> smallest url of its cluster (a label-free form of clusters)."""
    rep = clusters_pdf.groupby("cluster_id")["url"].transform("min")
    return dict(zip(clusters_pdf["url"], rep))


def dedup_digest(pairs_pdf, clusters_pdf, jaccard: bool = True) -> str:
    """Order-free digest of dup_pairs and clusters. Without ``jaccard``
    it covers the pair set and the clusters only, so it holds across
    changes that move an estimate in its last digits."""
    pairs = zip(pairs_pdf["url_a"], pairs_pdf["url_b"], pairs_pdf["jaccard"])
    keep = 3 if jaccard else 2
    ph = rows_hash([(min(a, b), max(a, b), float(j))[:keep] for a, b, j in pairs], ["a", "b", "j"][:keep])
    ch = rows_hash(list(cluster_reps(clusters_pdf).items()), ["url", "rep"])
    return f"{ph}:{ch}:{len(pairs_pdf)}:{len(clusters_pdf)}"


def jaccard_gate_problems(pages_pdf, pairs_pdf, cfg) -> list[str]:
    """The invariant of ``functions.gates.dup_pairs_jaccard_gate``,
    checked in this process: every emitted pair's exact k-shingle
    Jaccard is at least tau - eps (eps = 10 sigma of the HLL estimate),
    and every pair of byte-identical documents is emitted."""
    from cuda_selection_criteria_spark.sketchlib.hashes import shingle_hashes

    text = dict(zip(pages_pdf["url"], pages_pdf["text"]))
    eps = 10 * 1.04 / (1 << cfg.hll_p) ** 0.5
    emitted = {(min(a, b), max(a, b)) for a, b in zip(pairs_pdf["url_a"], pairs_pdf["url_b"])}
    low = 0
    for a, b in emitted:
        sa, sb = shingle_hashes(text[a], cfg.shingle_k), shingle_hashes(text[b], cfg.shingle_k)
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        if inter / (sa.size + sb.size - inter) < cfg.tau - eps:
            low += 1
    groups: dict[str, list[str]] = {}
    for u, t in text.items():
        if len(t.encode()) >= cfg.shingle_k:
            groups.setdefault(t, []).append(u)
    missing = sum(1 for us in groups.values() for v in us if v != min(us) and (min(us), v) not in emitted)
    problems = [f"{low} emitted pairs below tau - eps"] if low else []
    return problems + ([f"{missing} identical-document pairs not emitted"] if missing else [])


@dataclass(frozen=True)
class Dedup:
    """A near-duplicate workload: pages -> dup_pairs + clusters through
    ``pipeline.dedup_pipeline``."""

    name: str
    n_docs: int
    cfg: DedupConfig

    SLICE_DOCS = 150  # documents in the slice checked against the oracle
    WARM_DOCS = 500  # documents in the warm-up input

    def setup(self, spark, work: str, seed: int) -> dict:
        shutil.rmtree(work, ignore_errors=True)
        table, planted = gen.corpus_pages(self.n_docs, seed)
        path, warm = os.path.join(work, "pages.parquet"), os.path.join(work, "warm.parquet")
        gen.write(gen.corpus_pages(self.WARM_DOCS, seed)[0], warm)
        return {"pages": path, "warm_pages": warm, "n_docs": self.n_docs, "input_bytes": gen.write(table, path), **planted}

    def warm_up(self, spark, st) -> None:
        """Untimed runs: five on a small input, then one on the timed
        input. The plans are the same as the timed runs', so the JVM
        compiles their hot code at a quarter of a full run's cost; the
        last run meets the full input's partition sizes once. A count,
        not a time, so a slow host phase does not leave the JVM colder."""
        for _ in range(5):
            self.run(spark, {"pages": st["warm_pages"]})
        self.run(spark, st)

    def run(self, spark, st):
        from cuda_selection_criteria_spark.pipeline import dedup_pipeline

        res = dedup_pipeline(spark.read.parquet(st["pages"]), self.cfg)
        noop(res.dup_pairs)
        noop(res.clusters)
        return res.dup_pairs, res.clusters

    def traced(self, spark, st, tr, i: int) -> dict:
        """The run above, one public layer call at a time, each call
        materialized before the next starts."""
        from cuda_selection_criteria_spark.operators import (
            candidate_pairs,
            connected_components,
            sketch_pages,
            verify_pairs,
        )

        cfg = self.cfg
        with tr.span("run", i):
            with tr.span("sketch", i):
                sk = sketch_pages(spark.read.parquet(st["pages"]), cfg).localCheckpoint(eager=True)
            with tr.span("candidates", i):
                cands = candidate_pairs(sk, cfg).localCheckpoint(eager=True)
            with tr.span("verify", i):
                verified = verify_pairs(cands, sk, cfg, with_ids=True).localCheckpoint(eager=True)
            with tr.span("cluster", i):
                comp = connected_components(verified.select("id_a", "id_b")).localCheckpoint(eager=True)
            with tr.span("cluster.relabel", i):
                url_ids = sk.select("url", "url_id")
                clusters = comp.join(url_ids, comp["node"] == url_ids["url_id"]).select("url", "cluster_id")
                noop(clusters)
            dup_pairs = verified.select("url_a", "url_b", "jaccard")
            noop(dup_pairs)
        return {"outputs": (dup_pairs, clusters), "sketches": sk, "cands": cands, "verified": verified, "comp": comp}

    def warehouse_trip(self, spark, st, tr, i: int) -> dict:
        """Write the documents' sketch table with the warehouse's resumable
        writer and read it back, as traced call ``i``. No untraced run
        goes through the warehouse: this measures the layer only."""
        from cuda_selection_criteria_spark.warehouse import Warehouse, sketch_with_resume

        wh = Warehouse(spark, os.path.join(os.path.dirname(st["pages"]), "wh"))
        with tr.span("warehouse.write", i):
            sketch_with_resume(wh, spark.read.parquet(st["pages"]), self.cfg)
        with tr.span("warehouse.read", i):
            wh.read("sketches").localCheckpoint(eager=True)
        return {"warehouse.bytes_per_doc": du(wh.path("sketches")) / st["n_docs"]}

    def counts(self, spark, t: dict) -> dict:
        """Work counts of one traced run, taken after it (untimed)."""
        from cuda_selection_criteria_spark.operators.candidates import explode_bands

        sk = t["sketches"]
        bands = explode_bands(sk, self.cfg)
        c = {
            "sketch.rows": sk.count(),
            "sketch.out_bytes": sk.select(
                F.sum(F.length("url") + F.length("hll14") + 8 * F.size("smh") + 24)
            ).collect()[0][0],
            "candidates.band_rows": bands.count(),
            "candidates.max_bucket": bands.groupBy("band_id", "band").count().agg(F.max("count")).collect()[0][0],
            "candidates.pairs": t["cands"].count(),
            "verify.pairs_out": t["verified"].count(),
            "cluster.nodes": t["comp"].count(),
            "cluster.components": t["comp"].select("cluster_id").distinct().count(),
        }
        c["cluster.edges"] = c["verify.pairs_out"]
        return c

    def floors(self, spark, st, t: dict, counts: dict) -> dict:
        """Kernel floor of each sketchlib kernel on this workload's own
        documents and candidate pairs (samples, scaled to the full
        counts)."""
        import pyarrow.parquet as pq

        texts = pq.read_table(st["pages"], columns=["text"])["text"].to_pylist()
        f = probes.sketch_floor(texts[:: max(1, len(texts) // 256)], len(texts), self.cfg)
        sk = t["sketches"]
        smp = (
            t["cands"].limit(2048)
            .join(sk.select(F.col("url_id").alias("id_a"), F.col("hll14").alias("hll_a")), "id_a")
            .join(sk.select(F.col("url_id").alias("id_b"), F.col("hll14").alias("hll_b")), "id_b")
            .toPandas()
        )
        f["sketchlib.verify_kernel_s"] = probes.verify_floor(
            list(smp["hll_a"]), list(smp["hll_b"]), counts["candidates.pairs"], self.cfg.hll_p
        )
        return f

    # ------------------------------------------------------------ checks
    def cold_run(self, spark, st):
        return self.run(spark, st)

    def check(self, spark, st, outputs, full: bool) -> tuple[list[str], dict[str, str]]:
        """Problems with the cold run's outputs, and the digests that
        ``pins.json`` holds for the seeds it pins."""
        return self.validate(spark, st, outputs, full), {"outputs": dedup_digest(*self.collect(outputs), jaccard=False)}

    def collect(self, outputs):
        pairs, clusters = outputs
        return pairs.toPandas(), clusters.toPandas()

    def digest(self, outputs) -> str:
        return dedup_digest(*self.collect(outputs))

    def validate(self, spark, st, outputs, full: bool) -> list[str]:
        """Problems with one run's outputs: the jaccard gate's invariant
        over every pair, clusters against a union-find over the pairs,
        and the pair set of a slice of the documents against the
        single-process oracle. ``full`` adds the program's own Spark
        jaccard gate, which costs three runs."""
        from cuda_selection_criteria_spark.functions.gates import dup_pairs_jaccard_gate
        from cuda_selection_criteria_spark.oracle import connected_components, oracle_dup_pairs
        from cuda_selection_criteria_spark.pipeline import dedup_pipeline

        problems = []
        pairs_df, clusters_df = outputs
        if full:
            docs = spark.read.parquet(st["pages"]).select(F.col("url").alias("doc_id"), "text")
            n_viol = dup_pairs_jaccard_gate(docs, pairs_df, self.cfg).count()
            if n_viol:
                problems.append(f"dup_pairs_jaccard_gate: {n_viol} violations")

        pairs, clusters = self.collect(outputs)
        want = connected_components(list(zip(pairs["url_a"], pairs["url_b"])))
        if cluster_reps(clusters) != want:
            problems.append("clusters differ from the connected components of dup_pairs")

        pages = spark.read.parquet(st["pages"]).toPandas()
        problems += jaccard_gate_problems(pages, pairs, self.cfg)
        part = pages.iloc[:: max(1, -(-len(pages) // self.SLICE_DOCS))]
        got = dedup_pipeline(spark.createDataFrame(part), self.cfg).dup_pairs.toPandas()
        ref = oracle_dup_pairs(list(zip(part["url"], part["text"])), self.cfg)
        got_j = {(min(a, b), max(a, b)): j for a, b, j in zip(got["url_a"], got["url_b"], got["jaccard"])}
        ref_j = {(min(a, b), max(a, b)): j for a, b, j in ref}
        if got_j.keys() != ref_j.keys() or any(abs(got_j[k] - ref_j[k]) > 1e-9 for k in ref_j):
            problems.append(f"slice of {len(part)} docs: {len(got_j)} pairs, oracle {len(ref_j)}")
        return problems


# ------------------------------------------------------------ text leaves

#: The registered leaves that host a `spread` call with no measurement
#: of its own, but simhash_pairs: it alone costs a third of a pass.
LEAVES = [
    "winnow_overlap_pairs",
    "duplicated_spans",
    "word_repetition_scores",
    "line_dedup_docs",
    "url_canonical",
    "media_features",
]


def exchanges(df) -> int:
    """Shuffle Exchange nodes in the formatted physical plan."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))


def winnow_pairs_reference(docs, k: int = 16, w: int = 8, min_shared: int = 3, max_df: int = 100) -> list[tuple]:
    """Sorted (doc_a, doc_b, shared) of the ``winnow_overlap_pairs`` leaf
    (Schleimer et al. winnowing: each window of ``w`` k-gram hashes
    selects its minimum, the rightmost on ties), computed in this
    process from ``docs`` = [(doc_id, text)]."""
    from collections import Counter
    from itertools import combinations

    from cuda_selection_criteria_spark.sketchlib.hashes import shingle_hashes

    holders: dict[int, list[int]] = {}
    for doc_id, text in docs:
        seq = shingle_hashes(text or "", k, dedup=False)
        if seq.size == 0:
            continue
        if seq.size <= w:
            pos = [seq.argmin()]
        else:
            win = np.lib.stride_tricks.sliding_window_view(seq, w)
            pos = np.arange(len(win)) + w - 1 - win[:, ::-1].argmin(axis=1)
        fps = set(seq[pos].view(np.int64).tolist())
        for fp in fps:
            holders.setdefault(fp, []).append(doc_id)
    shared = Counter(pair for ids in holders.values() if len(ids) <= max_df for pair in combinations(sorted(ids), 2))
    return sorted((a, b, n) for (a, b), n in shared.items() if n >= min_shared)


@dataclass(frozen=True)
class TextLeaves:
    """Every leaf in LEAVES over a seeded documents table, each written
    to a noop sink."""

    name: str

    def setup(self, spark, work: str, seed: int) -> dict:
        shutil.rmtree(work, ignore_errors=True)
        docs = gen.documents(seed)
        size = gen.write(docs, os.path.join(work, "documents.parquet"))
        return {"dir": work, "n_docs": docs.num_rows, "input_bytes": size, "hot_share": 0.0, "cluster_share": 0.0}

    def _queries(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        return {q: qs[q] for q in LEAVES}

    def run(self, spark, st):
        for fn in self._queries().values():
            noop(fn(spark, st["dir"]))
        return None

    def traced(self, spark, st, tr, i: int) -> dict:
        plans = {}
        with tr.span("run", i):
            for q, fn in self._queries().items():
                with tr.span(f"leaf.{q}", i):
                    df = fn(spark, st["dir"])
                    noop(df)
                plans[q] = df
        return {"outputs": None, "plans": plans}

    def counts(self, spark, t: dict) -> dict:
        return {f"leaf.{q}.exchanges": exchanges(df) for q, df in t["plans"].items()}

    def warm_up(self, spark, st) -> None:
        """None beyond the cold run, which runs every leaf once: a pass
        costs 10-15 s, mostly per-query overhead at any table size, and
        a second untimed pass would not fit a call's time budget."""

    def floors(self, spark, st, t: dict, counts: dict) -> dict:
        return {}

    def warehouse_trip(self, spark, st, tr, i: int) -> dict:
        return {}

    def digest(self, outputs) -> str:
        return ""

    def cold_run(self, spark, st) -> dict:
        """Every leaf once, its rows collected: (columns, rows) per leaf."""
        out = {}
        for q, fn in self._queries().items():
            df = fn(spark, st["dir"])
            out[q] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def check(self, spark, st, outputs, full: bool) -> tuple[list[str], dict[str, str]]:
        """Leaves with oracle SQL must hash equal to it, run by DuckDB over
        the same file; ``winnow_overlap_pairs`` must equal the pairs
        computed in this process. Nothing is pinned."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        path = os.path.join(st["dir"], "documents.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        problems = []
        for q, (cols, rows) in outputs.items():
            if q == "winnow_overlap_pairs":
                docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
                if sorted(rows) != winnow_pairs_reference(docs):
                    problems.append(f"{q}: pairs differ from the in-process winnowing")
                continue
            o = con.execute(oracles[q])
            if rows_hash(rows, cols) != rows_hash(o.fetchall(), [d[0] for d in o.description]):
                problems.append(f"{q}: result differs from its DuckDB oracle")
        con.close()
        return problems, {}


WORKLOADS = {
    w.name: w
    for w in (
        Dedup("hot_template", 2000, DedupConfig()),
        TextLeaves("text_leaves"),
    )
}
