"""Benchmark of the near-duplicate engine, one workload per call.

    python3 perfbench/run.py --workload hot_template --seed 1 --seconds 8 --trace 0

Run from the repository root. One driver process on local[4] sends the
load in a closed loop: one run at a time, the next starting when the
previous one ends. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics; the line before it
is the full record of the call (samples, digests, host probe).

--trace 0 reports the end-to-end metrics. --trace 1 spends half the
time on the same untraced runs and half on traced runs, with Spark's
event log on, and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import probes
from spans import Tracer, digest_event_log, event_log_files

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "pins.json")
CORES = 4
SETUP_REPEATS = 3

END_TO_END = {
    "docs_per_s": "docs/s",
    "run_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

LAYERS = ("sketch", "candidates", "verify", "cluster", "warehouse", "functions")

PER_LAYER = {
    "session.start_s": "s",
    "session.cold_run_s": "s",
    "host.probe_before_docs_per_s": "docs/s",
    "host.probe_after_docs_per_s": "docs/s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "sketchlib.shingle_s": "s",
    "sketchlib.hll_s": "s",
    "sketchlib.smh_s": "s",
    "sketchlib.verify_kernel_s": "s",
    "sketch.s": "s",
    "sketch.rows": "count",
    "sketch.out_bytes": "bytes",
    "sketch.boundary_share": "ratio",
    "sketch.spill_bytes": "bytes",
    "sketch.task_skew": "ratio",
    "sketch.wait_s": "s",
    "candidates.s": "s",
    "candidates.band_rows": "count",
    "candidates.max_bucket": "count",
    "candidates.pairs": "count",
    "candidates.yield": "ratio",
    "candidates.shuffle_write_bytes": "bytes",
    "candidates.shuffle_read_bytes": "bytes",
    "candidates.spill_bytes": "bytes",
    "candidates.task_skew": "ratio",
    "verify.s": "s",
    "verify.pairs_in": "count",
    "verify.pairs_out": "count",
    "verify.pairs_per_s": "pairs/s",
    "verify.kernel_share": "ratio",
    "verify.shuffle_read_bytes": "bytes",
    "verify.spill_bytes": "bytes",
    "verify.task_skew": "ratio",
    "cluster.s": "s",
    "cluster.edges": "count",
    "cluster.nodes": "count",
    "cluster.components": "count",
    "cluster.relabel_s": "s",
    "warehouse.sketch_write_s": "s",
    "warehouse.sketch_read_s": "s",
    "warehouse.bytes_per_doc": "bytes",
    **{f"{layer}.tasks_failed": "count" for layer in LAYERS},
}


def _leaf_metrics():
    from workloads import LEAVES

    return {**{f"leaf.{q}.s": "s" for q in LEAVES}, **{f"leaf.{q}.exchanges": "count" for q in LEAVES}}


def layer_of(span_name: str) -> str:
    return "functions" if span_name.startswith("leaf.") else span_name.split(".")[0]


def start_session(work: str, log_dir: str | None):
    """Spark session whose scratch files (block manager, shuffle, JVM and
    Python temp files) all stay under ``work``."""
    from cuda_selection_criteria_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    # The throughput collector on a fixed 2 GB heap: with G1 on a
    # 4-core host, its concurrent threads competed with the 4 task
    # threads, and run times and the JVM's peak memory varied 15-25%
    # from one call to the next.
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if log_dir:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=2 * CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it: closing its stdin
    is how PySpark's gateway process learns that its driver is gone."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def tail_percentile(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, when
    the sample count allows one above the median."""
    n = len(samples)
    if n <= 20:
        return {}
    p = math.floor(100 * (n - 10) / n)
    return {f"p{p}": statistics.quantiles(samples, n=100, method="inclusive")[p - 1]}


class Bench:
    """One call of the benchmark: set-up, a cold run, then runs in a
    closed loop for the given seconds, every output checked."""

    def __init__(self, wl, seed: int, seconds: int, trace: bool, work: str, pin: bool = False):
        self.wl, self.seed, self.seconds, self.trace, self.work, self.pin = wl, seed, seconds, trace, work, pin
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.rss_mb: dict[str, float] = {}

    def _sample_rss(self) -> None:
        now = probes.peak_rss_mb()
        if sum(now.values()) > sum(self.rss_mb.values()):
            self.rss_mb = now

    def _fail(self, problems: list[str]) -> None:
        self.failed += 1
        self.problems += problems
        print("\n".join(problems), file=sys.stderr)

    def _loop(self, seconds: float, fn, ref: str) -> list[tuple[float, object]]:
        """Runs ``fn(i) -> (outputs, extra)`` back to back until
        ``seconds`` have passed; returns (wall, extra) of each run whose
        output digest equals ``ref``."""
        done, end = [], time.perf_counter() + seconds
        for i in itertools.count():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out, extra = fn(i)
                wall = time.perf_counter() - t0
                if self.wl.digest(out) != ref:
                    self._fail(["output digest differs from the cold run's"])
                else:
                    done.append((wall, extra))
            except Exception:
                self._fail([traceback.format_exc(limit=4)])
            self._sample_rss()
            if time.perf_counter() >= end:
                return done

    def _cold_run(self, spark, st) -> tuple[float, str]:
        """The first run of the session. Its output, once checked, is the
        reference every later run must match."""
        self.attempted += 1
        t0 = time.perf_counter()
        out = self.wl.cold_run(spark, st)
        cold = time.perf_counter() - t0
        problems, pins = self.wl.check(spark, st, out, full=self.trace or self.pin)
        problems = problems or self._check_pins(pins)
        if problems:
            self._fail(problems)
        return cold, self.wl.digest(out)

    def _check_pins(self, pins: dict[str, str]) -> list[str]:
        """Output digests committed in pins.json for this workload and
        seed must match. With --pin, the full checks have passed and the
        digests are recorded there instead. Seeds pins.json does not
        hold are checked by the workload's own checks alone."""
        with open(PINS) as f:
            table = json.load(f)
        key = f"{self.wl.name}/{self.seed}"
        if self.pin and pins:
            table[key] = pins
            with open(PINS, "w") as f:
                json.dump(dict(sorted(table.items())), f, indent=1)
                f.write("\n")
            return []
        want = table.get(key, {})
        return [f"{k}: digest {h} differs from pinned {want[k]}" for k, h in pins.items() if want.get(k, h) != h]

    def measure(self) -> tuple[dict, dict]:
        """-> (metrics, record)."""
        wl = self.wl
        log_dir = os.path.join(self.work, "eventlog") if self.trace else None
        steal0, total0 = probes.cpu_steal_jiffies()
        t0 = time.perf_counter()
        spark = start_session(self.work, log_dir)
        start_s = time.perf_counter() - t0
        try:
            setups = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                st = wl.setup(spark, os.path.join(self.work, "in"), self.seed)
                setups.append(time.perf_counter() - t)
            probe_before = probes.host_probe()
            cold, ref = self._cold_run(spark, st)
            wl.warm_up(spark, st)
            if self.trace:
                # trace.overhead_s compares the untraced half with the
                # traced half, so the first untraced run must not be the
                # JVM's first after the cold run either.
                wl.run(spark, st)
            # Peak memory of the timed runs only: not the set-up, the
            # checks or the warm-up.
            probes.reset_peak_rss()
            share = 0.5 if self.trace else 1.0
            untraced = [w for w, _ in self._loop(self.seconds * share, lambda i: (wl.run(spark, st), None), ref)]
            if self.trace:
                tr = Tracer(spark.sparkContext)

                def traced(i):
                    t = wl.traced(spark, st, tr, i)
                    return t["outputs"], t

                traced_runs = self._loop(self.seconds * share, traced, ref)
                counts = wl.warehouse_trip(spark, st, tr, 1 + max(s.run for s in tr.spans))
                last = traced_runs[-1][1]
                counts.update(wl.counts(spark, last))
                counts.update(wl.floors(spark, st, last, counts))
            probe_after = probes.host_probe()
            steal1, total1 = probes.cpu_steal_jiffies()
        finally:
            stop_session(spark)
        if not untraced:
            raise RuntimeError("no run succeeded")
        run_s = statistics.median(untraced)
        setup_s = start_s + statistics.median(setups)
        record = {
            "workload": wl.name,
            "seed": self.seed,
            "cpus": CORES,
            "trace": int(self.trace),
            "n_docs": st["n_docs"],
            "input_bytes": st["input_bytes"],
            "hot_share": st["hot_share"],
            "cluster_share": st["cluster_share"],
            "run_s_samples": untraced,
            "run_s_n": len(untraced),
            "cold_run_s": cold,
            **tail_percentile(untraced),
            "setup_s_samples": [start_s + s for s in setups],
            "host_probe_docs_per_s": [probe_before, probe_after],
            "host_steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "reference_digest": ref,
            "peak_rss_mb_by_process": self.rss_mb,
            "failed_share": self.failed / self.attempted,
            "problems": self.problems,
        }
        if not self.trace:
            metrics = {
                "docs_per_s": st["n_docs"] / run_s,
                "run_s": run_s,
                "setup_s": setup_s,
                "peak_rss_mb": sum(self.rss_mb.values()),
            }
            return metrics, record
        trace_s = statistics.median([w for w, _ in traced_runs])
        metrics = {
            "session.start_s": start_s,
            "session.cold_run_s": cold,
            "host.probe_before_docs_per_s": probe_before,
            "host.probe_after_docs_per_s": probe_after,
            "trace.run_s": trace_s,
            "trace.overhead_s": trace_s - run_s,
            **layer_metrics(tr, digest_event_log(event_log_files(log_dir))),
            **counts,
        }
        derive(metrics)
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        record["spans"] = os.path.relpath(os.path.join(spans_dir, f"{wl.name}-{self.seed}-{tr.trace_id}.jsonl"), ROOT)
        tr.write(os.path.join(ROOT, record["spans"]))
        record["traced_run_s_samples"] = [w for w, _ in traced_runs]
        return metrics, record


#: Metric of a span's self time, where it is not "<layer>.s".
SPAN_METRIC = {
    "run": None,
    "cluster.relabel": "cluster.relabel_s",
    "warehouse.write": "warehouse.sketch_write_s",
    "warehouse.read": "warehouse.sketch_read_s",
}


def layer_metrics(tr: Tracer, groups: dict[str, dict]) -> dict:
    """Self times from the spans and Spark task figures from the event
    log, per layer: medians over the traced runs that called the layer,
    except failed tasks, which are summed."""
    self_s = tr.self_times()
    per_run: dict[str, dict[int, float]] = {}
    for s in tr.spans:
        metric = SPAN_METRIC.get(s.name, f"{s.name}.s" if s.name.startswith("leaf.") else f"{layer_of(s.name)}.s")
        if metric:
            runs = per_run.setdefault(metric, {})
            runs[s.run] = runs.get(s.run, 0.0) + self_s[s.span_id]
    out = {k: statistics.median(v.values()) for k, v in per_run.items()}

    fields = ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "wait_s")
    agg: dict[str, dict[int, dict]] = {}
    for group, g in groups.items():
        name, _, run = group.rpartition("#")
        a = agg.setdefault(layer_of(name), {}).setdefault(int(run), {"tasks_failed": 0, "task_skew": 0.0, **dict.fromkeys(fields, 0)})
        for f in ("tasks_failed",) + fields:
            a[f] += g[f]
        a["task_skew"] = max(a["task_skew"], g["task_skew"])
    for layer, runs in agg.items():
        out[f"{layer}.tasks_failed"] = sum(r["tasks_failed"] for r in runs.values())
        for f in fields + ("task_skew",):
            out[f"{layer}.{f}"] = statistics.median(r[f] for r in runs.values())
    return out


def derive(m: dict) -> None:
    """Ratios of the layer figures, each against its stated base."""
    if m.get("sketch.s"):
        floor = m["sketchlib.shingle_s"] + m["sketchlib.hll_s"] + m["sketchlib.smh_s"]
        m["sketch.boundary_share"] = 1.0 - floor / (m["sketch.s"] * CORES)
    if "candidates.pairs" in m:
        m["verify.pairs_in"] = m["candidates.pairs"]
        if m["candidates.pairs"]:
            m["candidates.yield"] = m["verify.pairs_out"] / m["candidates.pairs"]
    if m.get("verify.s"):
        m["verify.pairs_per_s"] = m.get("verify.pairs_in", 0) / m["verify.s"]
        m["verify.kernel_share"] = m.get("sketchlib.verify_kernel_s", 0.0) / (m["verify.s"] * CORES)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="after the full output checks pass, record this seed's digests in pins.json")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers started by Spark import the package from here too.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    bench = Bench(wl, args.seed, args.seconds, bool(args.trace), work, args.pin)
    try:
        metrics, record = bench.measure()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = {**PER_LAYER, **_leaf_metrics()} if args.trace else END_TO_END
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
