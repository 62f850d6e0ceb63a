"""Batched (multi-document) sketch builders.

The per-item kernels in ``smh``/``hll`` are independent across items,
so a whole Arrow batch of documents is sketched in ONE numpy pass:
concatenate every document's shingle set, run the item-parallel kernel,
then segment-reduce (min / max) by document index. This is the
vectorization that replaces the reference's OpenMP dynamic-schedule
per-file loop (/root/reference/src/build_sketch.cpp:232-238) — and the
reason the Spark sketch stage has no per-row Python in the hot path.
"""

from __future__ import annotations

import numpy as np

from .hashes import wyhash64_stream
from .hll import ertl_mle_batch, hll_ranks
from .hashes import wanghash64

U64 = np.uint64
_M32 = U64(0xFFFFFFFF)
_U64MAX = np.iinfo(np.uint64).max


def _walk_chunk(part: np.ndarray, didx: np.ndarray, m: int, depth: int, out_flat: np.ndarray) -> None:
    """Depth-limited swap walk for one chunk; segment-min results into
    ``out_flat`` (flattened [n_docs, m]).

    Correctness of truncation at ``depth``: every candidate produced at
    j >= depth has value >= (depth << 32), strictly larger than any
    candidate with j < depth — so it can only matter for (doc, slot)
    pairs that receive NO candidate at j < depth. The caller detects
    those docs and re-runs them at full depth.
    """
    n = part.shape[0]
    state = part.copy()
    state[state == U64(0)] = U64(1337)
    perm = np.broadcast_to(np.arange(m, dtype=np.int64), (n, m)).copy()
    rows = np.arange(n)
    wy_inc = U64(0x60BEE2BEE120FC15)
    wy_xor = U64(0xE7037ED1A0B428DB)
    from .hashes import _wymum

    with np.errstate(over="ignore"):
        for j in range(depth):
            state = state + wy_inc
            v = _wymum(state ^ wy_xor, state)
            kj = (v & _M32).astype(np.int64) & np.int64(m - 1)
            tmp = perm[rows, kj]
            perm[rows, kj] = perm[rows, j]
            perm[rows, j] = tmp
            vis = perm[:, j]
            vals = (U64(j) << U64(32)) | (v >> U64(32))
            # only the FIRST visit of a slot counts for this item; a
            # repeat visit has higher j and loses anyway, so plain
            # minimum.at is exact here.
            np.minimum.at(out_flat, didx * m + vis, vals)


def _walk_chunk_sparse(part: np.ndarray, didx: np.ndarray, m: int, depth: int, out_flat: np.ndarray) -> None:
    """Same walk as ``_walk_chunk`` but WITHOUT materializing the
    (n, m) permutation matrix.

    Fisher-Yates at depth d touches at most 2d positions per item, so
    the permutation is kept as a write history (wpos/wval, 2 entries
    per step) and lookups replay it with d vectorized compares —
    O(depth^2) tiny column ops instead of an 8·n·m-byte perm buffer
    per chunk (the perm init + swap gathers measured 73% of the SMH
    stage). Bit-identical: same draw sequence, same swap semantics
    (fixture-parity tests pin it).
    """
    n = part.shape[0]
    state = part.copy()
    state[state == U64(0)] = U64(1337)
    wy_inc = U64(0x60BEE2BEE120FC15)
    wy_xor = U64(0xE7037ED1A0B428DB)
    from .hashes import _wymum

    wpos = np.full((2 * depth, n), -1, dtype=np.int64)
    wval = np.empty((2 * depth, n), dtype=np.int64)

    def lookup(q: np.ndarray, upto: int) -> np.ndarray:
        val = q
        for s in range(upto):  # ascending: last matching write wins
            # np.where over boolean fancy indexing: ~10x on this host
            val = np.where(wpos[s] == q, wval[s], val)
        return val

    with np.errstate(over="ignore"):
        for j in range(depth):
            state = state + wy_inc
            v = _wymum(state ^ wy_xor, state)
            kj = (v & _M32).astype(np.int64) & np.int64(m - 1)
            jj = np.full(n, j, dtype=np.int64)
            a = lookup(kj, 2 * j)  # perm[kj] pre-swap
            b = lookup(jj, 2 * j)  # perm[j] pre-swap
            wpos[2 * j] = kj
            wval[2 * j] = b  # perm[kj] := perm[j]
            wpos[2 * j + 1] = jj
            wval[2 * j + 1] = a  # perm[j] := perm[kj]
            vis = a  # perm[j] after the swap
            vals = (U64(j) << U64(32)) | (v >> U64(32))
            # only the FIRST visit of a slot counts for this item; a
            # repeat visit has higher j and loses anyway, so plain
            # minimum.at is exact here.
            np.minimum.at(out_flat, didx * m + vis, vals)


def superminhash_batch(
    items: np.ndarray,
    doc_idx: np.ndarray,
    n_docs: int,
    m: int,
    chunk: int = 8192,
    depth0: int | None = None,
) -> np.ndarray:
    """SuperMinHash signatures for many documents at once.

    ``items``: concatenated u64 shingles of all docs (deduplicated per
    doc); ``doc_idx``: same-length int array mapping item -> document
    (ascending). Returns uint64[n_docs, m]. Bit-identical to per-doc
    ``smh.superminhash``.

    Two-phase: a shallow walk (depth0 columns) covers almost every
    (doc, slot) when docs have >> m items; docs with any uncovered slot
    are re-run at full depth. This keeps the wyhash stream cost at
    ~depth0/m of the naive cost.
    """
    if m & (m - 1):
        raise ValueError(f"m must be a power of two, got {m}")
    items = np.asarray(items, dtype=U64)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    out = np.full(n_docs * m, _U64MAX, dtype=U64)
    if depth0 is None:
        depth0 = 4 if m >= 16 else m
    depth0 = min(depth0, m)

    has_items = np.zeros(n_docs, dtype=bool)
    has_items[doc_idx] = True

    depth = depth0
    cur_items, cur_docs = items, doc_idx
    while True:
        # sparse history walk while depth^2 stays small vs the dense
        # (chunk, m) perm matrix; dense path for deep re-runs
        walk = _walk_chunk_sparse if depth * depth <= 2 * m else _walk_chunk
        for lo in range(0, cur_items.shape[0], chunk):
            walk(cur_items[lo : lo + chunk], cur_docs[lo : lo + chunk], m, depth, out)
        if depth >= m:
            break
        out2 = out.reshape(n_docs, m)
        redo = (out2 == _U64MAX).any(axis=1) & has_items
        if not redo.any():
            break
        sel = redo[cur_docs]
        cur_items = cur_items[sel]
        cur_docs = cur_docs[sel]
        out2[redo] = _U64MAX  # walk restarts from j=0; clear partials
        depth = min(m, depth * 4)
    return out.reshape(n_docs, m)


def hll_cards_encode_batch(
    items: np.ndarray,
    doc_idx: np.ndarray,
    n_docs: int,
    p: int,
    encoding: str = "sparse",
    doc_chunk: int = 256,
) -> tuple[np.ndarray, list[bytes]]:
    """Fused HLL fold + Ertl-MLE cardinality + register-blob encode,
    chunked by document.

    Equivalent to ``hll_batch`` -> ``cardinalities`` ->
    ``encode_registers_sparse`` (or dense ``tobytes``) but never
    materializes the full [n_docs, 2^p] register matrix: a reused
    [doc_chunk, 2^p] scratch (4 MB at p=14) is zeroed, scattered,
    histogrammed and encoded per chunk. Peak memory drops ~8x and the
    buffers stay cache-resident — the register matrix was the largest
    fresh allocation in the sketch stage, the class of traffic this
    host's fault throttle punishes under multi-worker contention.
    Returns (cards float64[n_docs], blobs list[bytes]).
    """
    m = 1 << p
    items = np.asarray(items, dtype=U64)
    doc_idx = np.asarray(doc_idx, dtype=np.int64)
    cards = np.empty(n_docs, dtype=np.float64)
    blobs: list[bytes] = [b""] * n_docs
    regs = np.empty((min(doc_chunk, max(n_docs, 1)), m), dtype=np.uint8)
    hist_buf = np.empty((regs.shape[0], m), dtype=np.int32)
    # items are grouped by ascending doc_idx: chunk boundaries via searchsorted
    for lo in range(0, n_docs, doc_chunk):
        hi = min(lo + doc_chunk, n_docs)
        cnk = hi - lo
        r = regs[:cnk]
        r.fill(0)
        i0 = np.searchsorted(doc_idx, lo, side="left")
        i1 = np.searchsorted(doc_idx, hi, side="left")
        if i1 > i0:
            h = wanghash64(items[i0:i1])
            idx, rank = hll_ranks(h, p)
            flat = (doc_idx[i0:i1] - lo) * m + idx
            np.maximum.at(r.reshape(-1), flat, rank)
        hist = register_histograms(r, buf=hist_buf[:cnk])
        cards[lo:hi] = ertl_mle_batch(hist, p)
        if encoding == "sparse":
            for j, b in enumerate(encode_registers_sparse(r)):
                blobs[lo + j] = b
        else:
            for j in range(cnk):
                blobs[lo + j] = r[j].tobytes()
    return cards, blobs


def hll_batch(items: np.ndarray, doc_idx: np.ndarray, n_docs: int, p: int) -> np.ndarray:
    """HLL register files for many documents at once (uint8[n_docs, 2^p]).

    Applies WangHash then scatter-max into each doc's register file.
    Bit-identical to per-doc ``hll.hll_build``.
    """
    m = 1 << p
    regs = np.zeros((n_docs, m), dtype=np.uint8)
    items = np.asarray(items, dtype=U64)
    if items.size:
        h = wanghash64(items)
        idx, rank = hll_ranks(h, p)
        flat = np.asarray(doc_idx, dtype=np.int64) * m + idx
        np.maximum.at(regs.reshape(-1), flat, rank)
    return regs


def register_histograms(regs: np.ndarray, chunk: int = 256, buf: np.ndarray | None = None) -> np.ndarray:
    """Per-row 64-bin histograms of register files, chunked with a
    reused int32 scratch buffer.

    A whole-matrix ``astype(int64)`` would allocate rows*2^p*8 bytes of
    FRESH memory per call — measured pathologically slow under this
    host's page-fault throttling (~50s for 655MB). Chunking bounds the
    scratch to chunk*2^p*4 bytes, faulted once and reused.
    """
    n, m = regs.shape
    hist = np.empty((n, 64), dtype=np.int64)
    if buf is None:
        buf = np.empty((min(chunk, n), m), dtype=np.int32)
    offs = (np.arange(min(chunk, n), dtype=np.int32) * 64)[:, None]
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        cnk = hi - lo
        b = buf[:cnk]
        np.add(regs[lo:hi], offs[:cnk], out=b, casting="unsafe")
        hist[lo:hi] = np.bincount(b.ravel(), minlength=cnk * 64).reshape(cnk, 64)
    return hist


def cardinalities(regs: np.ndarray, p: int) -> np.ndarray:
    """Ertl-MLE per register file; regs shape [n_docs, 2^p]."""
    hist = register_histograms(regs)
    return ertl_mle_batch(hist, p)


def encode_registers_sparse(regs: np.ndarray) -> list[bytes]:
    """Sparse HLL register encoding: u32 nnz + u16 indices + u8 ranks.

    A p=14 register file is 16 KiB dense, but a document with d distinct
    shingles touches at most d registers — web documents (10^2..10^5
    shingles) leave most registers zero, so sparse cuts the bytes moved
    through Arrow/shuffles ~3-10x. Lossless: decode_registers inverts
    exactly; all estimator decisions are unchanged.

    Disambiguation invariant: a sparse blob (4 + 3*nnz bytes) is always
    STRICTLY SHORTER than the dense layout (2^p bytes); rows dense
    enough that sparse wouldn't win fall back to the dense layout, so
    decode_registers' len(blob) == 2^p dense check can never misparse a
    sparse blob (a sparse row with nnz == (2^p - 4) / 3 is also exactly
    2^p bytes).
    """
    n, m = regs.shape
    nz_r, nz_c = np.nonzero(regs)
    ranks = regs[nz_r, nz_c]
    idx16 = nz_c.astype("<u2")
    counts = np.bincount(nz_r, minlength=n)
    offs = np.concatenate([[0], np.cumsum(counts)])
    out = []
    for i in range(n):
        lo, hi = offs[i], offs[i + 1]
        if 4 + 3 * (hi - lo) >= m:  # sparse not strictly shorter -> dense
            out.append(regs[i].tobytes())
            continue
        out.append(
            np.uint32(hi - lo).tobytes()
            + idx16[lo:hi].tobytes()
            + ranks[lo:hi].tobytes()
        )
    return out


def decode_registers(blobs, p: int) -> np.ndarray:
    """Inverse of encode_registers_sparse -> dense uint8 [n, 2^p].

    Also accepts dense 2^p-byte blobs (auto-detected by length), so
    warehouse tables written in dense mode verify identically.
    """
    m = 1 << p
    n = len(blobs)
    dense = np.zeros((n, m), dtype=np.uint8)
    for i, b in enumerate(blobs):
        b = bytes(b)
        if len(b) == m:  # dense layout
            dense[i] = np.frombuffer(b, dtype=np.uint8)
            continue
        c = int(np.frombuffer(b, "<u4", 1, 0)[0])
        idx = np.frombuffer(b, "<u2", c, 4)
        rank = np.frombuffer(b, np.uint8, c, 4 + 2 * c)
        dense[i, idx] = rank
    return dense


def _register_entries(blobs, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Non-zero registers of each blob, CSR style: (offs int64[n+1],
    idx uint16[nnz], rank uint8[nnz]), for either layout (dense when
    ``len == m``, as in ``decode_registers``). ``blobs`` is non-empty."""
    counts = np.empty(len(blobs), dtype=np.int64)
    idx_parts: list[np.ndarray] = []
    rank_parts: list[np.ndarray] = []
    for i, b in enumerate(blobs):
        if len(b) == m:  # dense layout
            r = np.frombuffer(b, dtype=np.uint8)
            idx = np.flatnonzero(r).astype("<u2")
            rank = r[idx]
        else:
            c = int.from_bytes(b[:4], "little")
            idx = np.frombuffer(b, "<u2", c, 4)
            rank = np.frombuffer(b, np.uint8, c, 4 + 2 * c)
        counts[i] = idx.size
        idx_parts.append(idx)
        rank_parts.append(rank)
    offs = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return offs, np.concatenate(idx_parts), np.concatenate(rank_parts)


_UNION_CHUNK = 256  # pairs per scratch fill: [256, 2^14] uint8 = 4 MiB


def union_histograms(blobs_a, blobs_b, p: int) -> np.ndarray:
    """64-bin histograms of the register max of each blob pair: the
    same integers as ``register_histograms(np.maximum(
    decode_registers(blobs_a, p), decode_registers(blobs_b, p)))``, in
    O(nnz_a + nnz_b) work per pair instead of O(2^p).

    Per chunk of ``_UNION_CHUNK`` pairs, side a's registers are
    scattered into a reused [chunk, 2^p] uint8 scratch and histogrammed.
    Side b gathers the registers it touches: each one it raises moves from bin
    ``old`` to bin ``rank_b`` (``hist_a + bincount(max(old, rank_b)) -
    bincount(old)``, restricted to the entries where the two differ).
    Bin 0 is what is left of 2^p. Only the written positions are zeroed
    again, so the scratch is never swept: a page sets about a tenth of
    the 16,384 registers, and a near-duplicate pair's b side raises a
    few percent of them.
    """
    m = 1 << p
    n = len(blobs_a)
    hist = np.empty((n, 64), dtype=np.int64)
    if n == 0:
        return hist
    oa, ia, ra = _register_entries(blobs_a, m)
    ob, ib, rb = _register_entries(blobs_b, m)
    chunk = min(_UNION_CHUNK, n)
    regs = np.zeros(chunk * m, dtype=np.uint8)
    rows = np.arange(chunk, dtype=np.int64)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        cnk = hi - lo
        bins = cnk * 64
        row_a = np.repeat(rows[:cnk], np.diff(oa[lo : hi + 1]))
        rank_a = ra[oa[lo] : oa[hi]]
        flat_a = row_a * m
        flat_a += ia[oa[lo] : oa[hi]]
        regs[flat_a] = rank_a
        row_a *= 64
        row_a += rank_a
        h = np.bincount(row_a, minlength=bins)
        flat_b = np.repeat(rows[:cnk] * m, np.diff(ob[lo : hi + 1]))
        flat_b += ib[ob[lo] : ob[hi]]
        rank_b = rb[ob[lo] : ob[hi]]
        old = regs[flat_b]
        up = np.flatnonzero(rank_b > old)
        row_up = (flat_b[up] >> p) * 64
        h += np.bincount(row_up + rank_b[up], minlength=bins)
        h -= np.bincount(row_up + old[up], minlength=bins)
        h = h.reshape(cnk, 64)
        h[:, 0] = m - h[:, 1:].sum(axis=1)
        hist[lo:hi] = h
        regs[flat_a] = 0
    return hist
