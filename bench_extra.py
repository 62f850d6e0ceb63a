"""Extra benchmarks for optimization work (guide §1): per-query
noop-sink isolation, repeatable timing, and .explain("formatted")
capture. bench.py stays FROZEN; this file cites its own numbers in
OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py time   [query ...]   # noop-sink wall per query
  python bench_extra.py plan   [query ...]   # dump formatted plans
  python bench_extra.py all                  # headline set
  python bench_extra.py worker [N]           # Python-boundary floor, median of N

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_EXTRA_REPEATS (default 2),
     BENCH_EXTRA_PLANDIR (default plans/r06 when plan mode).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

HEADLINE = [
    "dup_pairs_smh",
    "dup_clusters_smh",
    "exact_dup_groups",
    "ngram_jaccard_pairs",
    "token_stats",
    "doc_fingerprints",
    "lang_id_scores",
    "embedding_knn",
    "embedding_lsh_candidates",
    "events_windowed",
    "dup_pairs_smh_m512",
]


def get_session():
    from cuda_selection_criteria_spark.session import get_spark

    spark = get_spark(
        app_name="bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(8, int(CPUS)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def worker_floor(spark, runs: int) -> dict:
    """Fixed cost of a Python task: medians over ``runs`` of a one-row
    JVM-only job, the same row through a pass-through mapInPandas job,
    and one ``importlib.invalidate_caches()`` (which PySpark calls at
    every task start) timed inside a third job's worker."""
    from cuda_selection_criteria_spark.zipimport_guard import WORKER_PROBE_SCHEMA, worker_probe

    width = spark.sparkContext.defaultParallelism
    one = spark.range(1, numPartitions=1)
    passthrough = one.mapInPandas(lambda batches: batches, one.schema)
    probe = one.mapInPandas(worker_probe, WORKER_PROBE_SCHEMA)
    # two tasks per core, twice: every worker has run a task before timing
    for _ in range(2):
        spark.range(2 * width, numPartitions=2 * width).mapInPandas(
            worker_probe, WORKER_PROBE_SCHEMA
        ).collect()
    jvm, udf, inv, installed = [], [], [], set()
    for _ in range(runs):
        for df, walls in ((one, jvm), (passthrough, udf)):
            t0 = time.perf_counter()
            df.collect()
            walls.append(time.perf_counter() - t0)
        (row,) = probe.collect()
        inv.append(row.invalidate_s)
        installed.add(row.installed)
    med = statistics.median
    return {
        "runs": runs,
        "jvm_job_s": round(med(jvm), 4),
        "map_in_pandas_job_s": round(med(udf), 4),
        "worker_invalidate_caches_s": round(med(inv), 5),
        "guard_installed": sorted(installed),
    }


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "worker":
        spark = get_session()
        runs = int(sys.argv[2]) if len(sys.argv) > 2 else 20
        print(json.dumps({"cpus": int(CPUS), "python": sys.version.split()[0], **worker_floor(spark, runs)}))
        spark.stop()
        return

    import __spark_entry__ as entrymod

    names = sys.argv[2:] or HEADLINE
    qs = entrymod.queries()
    spark = get_session()

    if mode == "plan":
        plandir = os.environ.get("BENCH_EXTRA_PLANDIR", "plans/r06")
        suffix = os.environ.get("BENCH_EXTRA_PLAN_SUFFIX", "before")
        os.makedirs(plandir, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(plandir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        spark.stop()
        return

    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "2"))
    # warm-up: one untimed pass at the smallest sf (same reasoning as
    # bench.py — worker spawn/imports/codegen are one-time costs)
    warm_sf = os.environ.get("SPARK_GRAFT_WARMUP_DIR") or os.path.join(
        os.path.dirname(SF_DIR.rstrip("/")), "sf0.001"
    )
    if not os.path.isdir(warm_sf):
        warm_sf = SF_DIR
    for name in names:
        try:
            qs[name](spark, warm_sf).count()
        except Exception as e:
            print(f"# WARMUP ERROR {name}: {e}", file=sys.stderr)
    out: dict[str, list[float]] = {}
    for r in range(repeats):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            noop(qs[name](spark, SF_DIR))
            dt = round(time.time() - t0, 3)
            out.setdefault(name, []).append(dt)
            print(f"# pass{r} {name}: {dt}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    summary = {k: {"min": min(v), "samples": v} for k, v in out.items()}
    print(json.dumps({"sf_dir": SF_DIR, "cpus": int(CPUS), "queries": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
