"""In-process measurements taken beside the Spark runs: the host-phase
probe, the numpy kernel floor of each sketchlib kernel, and the peak
resident memory of the process tree."""

from __future__ import annotations

import os
import time

import numpy as np


def _shingle_sets(texts: list[str], k: int):
    from cuda_selection_criteria_spark.sketchlib.hashes import shingle_hashes

    sets = [shingle_hashes(t, k) for t in texts]
    counts = np.array([s.size for s in sets], dtype=np.int64)
    items = np.concatenate([s for s in sets if s.size]) if counts.sum() else np.empty(0, np.uint64)
    return items, np.repeat(np.arange(len(texts), dtype=np.int64), counts)


def host_probe() -> float:
    """Single-process sketch-kernel throughput in docs/s on a fixed
    corpus: a record of the host's phase, never used to filter or
    repeat samples."""
    from cuda_selection_criteria_spark.corpus import generate_pages
    from cuda_selection_criteria_spark.sketchlib.batch import hll_cards_encode_batch, superminhash_batch

    rows, _ = generate_pages(256, 42)
    texts = [r.text for r in rows]
    t0 = time.perf_counter()
    items, didx = _shingle_sets(texts, 31)
    hll_cards_encode_batch(items, didx, len(texts), 14)
    superminhash_batch(items, didx, len(texts), 64)
    return len(texts) / (time.perf_counter() - t0)


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the time a
    hypervisor ran something else while this host's CPUs had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def sketch_floor(texts: list[str], n_total: int, cfg) -> dict[str, float]:
    """Single-core seconds the sketch kernels would take over all
    ``n_total`` documents, measured on the sample ``texts``."""
    from cuda_selection_criteria_spark.sketchlib.batch import hll_cards_encode_batch, superminhash_batch

    scale = n_total / len(texts)
    t0 = time.perf_counter()
    items, didx = _shingle_sets(texts, cfg.shingle_k)
    t1 = time.perf_counter()
    hll_cards_encode_batch(items, didx, len(texts), cfg.hll_p, encoding=cfg.register_encoding)
    t2 = time.perf_counter()
    superminhash_batch(items, didx, len(texts), cfg.smh_m)
    t3 = time.perf_counter()
    return {
        "sketchlib.shingle_s": (t1 - t0) * scale,
        "sketchlib.hll_s": (t2 - t1) * scale,
        "sketchlib.smh_s": (t3 - t2) * scale,
    }


def verify_floor(hll_a: list[bytes], hll_b: list[bytes], n_total: int, p: int) -> float:
    """Single-core seconds of the verify register math over ``n_total``
    pairs, measured on the sample pairs given."""
    from cuda_selection_criteria_spark.sketchlib.batch import decode_registers, register_histograms
    from cuda_selection_criteria_spark.sketchlib.hll import ertl_mle_batch

    if not hll_a:
        return 0.0
    t0 = time.perf_counter()
    mx = np.maximum(decode_registers(hll_a, p), decode_registers(hll_b, p))
    ertl_mle_batch(register_histograms(mx), p)
    return (time.perf_counter() - t0) * n_total / len(hll_a)


def _process_tree() -> tuple[int, set[int]]:
    """(this pid, pids of this process and all its descendants)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me = os.getpid()
    tree, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return me, tree


def reset_peak_rss() -> None:
    """Reset VmHWM of every process in the tree to its current resident
    size, so later readings cover only what runs after this."""
    for pid in _process_tree()[1]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> dict[str, float]:
    """VmHWM in MB of this process (driver), of the JVM it started (jvm)
    and of every other descendant, the Python workers (workers)."""
    me, tree = _process_tree()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        kb = next((int(l.split()[1]) for l in status.splitlines() if l.startswith("VmHWM:")), 0)
        name = next((l.split()[1] for l in status.splitlines() if l.startswith("Name:")), "")
        kind = "driver" if pid == me else "jvm" if name == "java" else "workers"
        out[kind] += kb / 1024.0
    return out
