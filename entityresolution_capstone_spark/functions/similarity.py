"""Batched string-similarity kernels (NumPy, Arrow-transported).

Behavioral parity with the kernels the reference obtains from
``py_stringmatching`` (selected in ``/root/reference/src/entity_resolver/core/
utils.py:329-454``), re-implemented from the published algorithm definitions:

- Jaro: matches within window ``max(|s1|,|s2|)//2 - 1``, greedy left-to-right;
  ``(m/|s1| + m/|s2| + (m-t)/m) / 3``.
- Jaro-Winkler: ``jaro + l * p * (1 - jaro)`` with shared-prefix length
  ``l <= 4``; the prefix boost is applied UNCONDITIONALLY (no 0.7 boost
  threshold) — this matches the reference's numerics (verified against the
  golden scores in /root/reference/tests/test_core.py:161-166).
- Scaled Levenshtein: ``1 - dist / max(|s1|,|s2|)``.

One entry point: :func:`char_sim_batch` scores ``Σ_k w_k · kernel_k`` over a
batch of string pairs. It encodes and compacts each ``KERNEL_CHUNK`` slice
once for every kernel, and :func:`_sim_chunk` holds the only routing
decision:

- byte-equal rows score ``Σ w`` (every kernel scores them 1.0);
- the modal ``(|s1|, |s2|)`` group — real pair streams are dominated by one
  length combination, because prefixes fill their budget — takes ONE shared
  equality tensor feeding the uniform-length Jaro matcher and Myers, when it
  has at least ``FUSED_MIN_ROWS`` rows or is the whole chunk;
- every other row takes the general bit-parallel Jaro matcher and Myers;
  a chunk whose alphabet exceeds 255 symbols takes the masked-loop Jaro and
  the DP Levenshtein instead.

The per-kernel wrappers (:func:`jaro_batch`, :func:`jaro_winkler_batch`,
:func:`scaled_levenshtein_batch`) are single-weight calls of it, and
:func:`make_weighted_char_sim_udf` is the one Arrow UDF over it. The
per-character loops run over the (bounded) max string length, vectorized
with NumPy across the whole batch — no per-row Python in the hot path.
Strings are truncated to ``max_len`` (default 64) before comparison; callers
must apply the same truncation in any SQL oracle. :func:`levenshtein_batch`
(the DP) and the masked-loop matcher are the test references.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_MAX_LEN = 64
JW_PREFIX_WEIGHT = 0.1  # reference default, main.py:276-279
CHAR_KERNELS = ("jaro", "jw", "lev")
KERNEL_CHUNK = 4096  # rows per internal slice: keeps the (chunk x L) working
# set inside the per-core L3 share so 32 concurrent workers don't fight for
# DRAM bandwidth (the scaling-efficiency killer), regardless of Arrow batch size
FUSED_MIN_ROWS = 256  # a modal length group below this (and short of the
# whole chunk) is not worth a second, uniform-length pass over the chunk


def _encode_batch(strings: np.ndarray, max_len: int) -> tuple[np.ndarray, np.ndarray]:
    """Encode an object array of strings to (N, max_len) int32 codepoints + lengths.

    One C-level conversion for the whole batch (r6): casting the object array
    to a fixed-width ``U{max_len}`` NumPy unicode array truncates AND
    zero-pads in a single pass, and its memory layout IS the (N, max_len)
    little-endian UTF-32 codepoint matrix — the same bytes the per-string
    ``s.encode("utf-32-le")`` loop produced, astral plane included, so the
    output is bit-identical at ~4x less Python overhead (measured 17.6 ->
    4.7 ms per 4096-row chunk; the encode was ~10% of the fused kernel).
    """
    n = len(strings)
    lens = np.fromiter(
        (0 if s is None else min(len(s), max_len) for s in strings),
        dtype=np.int64,
        count=n,
    )
    if n == 0:
        return np.zeros((0, max_len), dtype=np.int32), lens
    u = np.array([s if s is not None else "" for s in strings], dtype=f"U{max_len}")
    out = np.ascontiguousarray(u).view(np.uint32).reshape(n, max_len).astype(np.int32)
    return out, lens


def _compact_codes(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Remap two codepoint matrices to uint8 when the batch vocabulary allows.

    Every downstream operation is equality-only, so any injective remap is
    exact; uint8 quarters the memory traffic of the O(L²) matching loops
    (the kernels are bandwidth-bound at high worker counts).

    The distinct-code set is collected with a boolean flag table indexed by
    codepoint (O(cells) scatter + one scan) instead of ``np.unique`` over the
    concatenated matrices — unique SORTS, and its ~30 ms per 4k-row chunk was
    the single largest line in the fused-kernel profile (r5). The ascending
    ``flatnonzero`` order reproduces unique's order, so the lut — and every
    downstream comparison — is bit-identical.
    """
    mx = int(max(a.max(initial=0), b.max(initial=0)))
    flags = np.zeros(mx + 1, dtype=bool)
    flags[a.ravel()] = True
    flags[b.ravel()] = True
    uniq = np.flatnonzero(flags)
    if len(uniq) > 255:
        return a, b
    lut = np.zeros(mx + 1, dtype=np.uint8)
    lut[uniq] = np.arange(len(uniq), dtype=np.uint8)
    return lut[a], lut[b]


def _build_peq(codes: np.ndarray, lens: np.ndarray, lmax: int, n_symbols: int) -> np.ndarray:
    """(n, n_symbols, W) uint64 bit table: bit j of Peq[i, c] set iff
    codes[i, j] == c and j < lens[i].

    Built as one vectorized compare + ``packbits`` per alphabet symbol —
    orders of magnitude faster than ``np.bitwise_or.at`` scatter for the
    small compacted alphabets these batches have.
    """
    n, W = len(lens), (lmax + 63) // 64
    valid = np.arange(lmax)[None, :] < lens[:, None]
    peq = np.empty((n, n_symbols, W), dtype=np.uint64)
    pad = W * 8
    for c in range(n_symbols):
        m = (codes[:, :lmax] == c) & valid
        packed = np.packbits(m, axis=1, bitorder="little")
        if packed.shape[1] < pad:
            packed = np.pad(packed, ((0, 0), (0, pad - packed.shape[1])))
        peq[:, c, :] = packed.view(np.uint64)
    return peq


def char_sim_batch(
    s1: np.ndarray,
    s2: np.ndarray,
    weights: dict[str, float],
    max_len: int = DEFAULT_MAX_LEN,
    prefix_weight: float = JW_PREFIX_WEIGHT,
) -> np.ndarray:
    """``Σ_k w_k · kernel_k(s1, s2)`` per pair, kernels ``jaro``/``jw``/``lev``.

    Each ``KERNEL_CHUNK`` slice is encoded and alphabet-compacted ONCE for
    all kernels (r5: per-kernel re-encodes were ~58% of the fused profile).
    ``None`` scores as the empty string; ``prefix_weight`` is the Winkler
    boost of ``jw``. The weighted sum runs in ``weights`` order from 0.0, so
    a single weight of 1.0 returns the kernel's value bit for bit.
    """
    unknown = set(weights) - set(CHAR_KERNELS)
    if unknown:
        raise KeyError(f"unknown char kernel(s) {sorted(unknown)}; expected {CHAR_KERNELS}")
    n = len(s1)
    out = np.empty(n, dtype=np.float64)
    for lo in range(0, n, KERNEL_CHUNK):
        hi = min(lo + KERNEL_CHUNK, n)
        a, la = _encode_batch(s1[lo:hi], max_len)
        b, lb = _encode_batch(s2[lo:hi], max_len)
        a, b = _compact_codes(a, b)
        out[lo:hi] = _sim_chunk(a, la, b, lb, weights, prefix_weight)
    return out


def _sim_chunk(a, la, b, lb, weights, prefix_weight) -> np.ndarray:
    """Score one encoded chunk: the only routing decision of the kernels.

    Byte-equal rows split off first (Σw, the value every kernel's own
    arithmetic gives them). Of the rest, the modal ``(la, lb)`` group takes
    the shared-tensor route when it is the whole remainder or at least
    ``FUSED_MIN_ROWS`` rows; the others take the general route. A chunk left
    uncompacted (>255 symbols) always takes the general route, whose
    matchers then fall back to the masked loop and the DP. Every route is
    bit-identical (pinned by the kernel tests); the choice is speed only.
    """
    out = np.full(len(la), float(sum(weights.values())))
    lmax = int(max(la.max(initial=0), lb.max(initial=0)))
    todo = np.flatnonzero((la != lb) | (a[:, :lmax] != b[:, :lmax]).any(axis=1))
    if len(todo) == 0:
        return out
    if len(todo) < len(la):
        a, la, b, lb = a[todo], la[todo], b[todo], lb[todo]
    if a.dtype == np.uint8:
        shape, sel = _modal_group(la, lb)
        if sel.all():
            out[todo] = _kernel_scores(a, la, b, lb, weights, prefix_weight, shape)
            return out
        if sel.sum() >= FUSED_MIN_ROWS:
            sub = np.empty(len(la))
            sub[sel] = _kernel_scores(
                a[sel], la[sel], b[sel], lb[sel], weights, prefix_weight, shape
            )
            rest = ~sel
            sub[rest] = _kernel_scores(
                a[rest], la[rest], b[rest], lb[rest], weights, prefix_weight
            )
            out[todo] = sub
            return out
    out[todo] = _kernel_scores(a, la, b, lb, weights, prefix_weight)
    return out


def _modal_group(la: np.ndarray, lb: np.ndarray) -> tuple[tuple[int, int], np.ndarray]:
    """The most frequent ``(la, lb)`` combination and its row mask."""
    base = int(lb.max(initial=0)) + 1
    comb = la * base + lb
    vals, counts = np.unique(comb, return_counts=True)
    mode = vals[int(counts.argmax())]
    return divmod(int(mode), base), comb == mode


def _kernel_scores(a, la, b, lb, weights, prefix_weight, shape=None) -> np.ndarray:
    """``Σ w_k · kernel_k`` over rows that are not byte-equal.

    ``shape = (la_s, lb_s)`` when every row has those lengths (the
    shared-tensor route): ONE :func:`_shared_eq_tensor` feeds both the
    uniform Jaro matcher and the side-swapped Myers (r6; the two Peq
    builds + gathers were ~40% of the fused kernel's DRAM traffic).
    Otherwise the general matchers run, on per-row lengths."""
    lmax = max(shape) if shape else int(max(la.max(initial=0), lb.max(initial=0)))
    a, b = a[:, :lmax], b[:, :lmax]
    eq_all = _shared_eq_tensor(a, b, shape[1], lmax) if shape else None
    jaro = None
    if "jaro" in weights or "jw" in weights:
        if shape:
            ma, mb = _jaro_match_bitparallel_uniform(a, b, *shape, lmax, eq_all)
        else:
            window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
            match = _jaro_match_bitparallel if a.dtype == np.uint8 else _jaro_match_masked
            ma, mb = match(a, la, b, lb, window, lmax)
        jaro = _jaro_sim_from_matches(a, la, b, lb, ma, mb)
    acc = np.zeros(len(la))
    for k, w in weights.items():
        if k == "jaro":
            sim = jaro
        elif k == "jw":
            sim = _winkler_from_jaro(jaro, a, la, b, lb, prefix_weight)
        else:  # lev
            if shape:
                dist = _lev_myers_uniform_swapped(eq_all, *shape)
            elif a.dtype == np.uint8:
                dist = _lev_myers_coded(a, la, b, lb)
            else:
                dist = _lev_dp_coded(a, la, b, lb)
            sim = 1.0 - dist / np.maximum(la, lb)
        acc += w * sim
    return acc


def _jaro_match_masked(a, la, b, lb, window, lmax):
    """Greedy Jaro matching as a masked loop over source positions — the
    reference matcher, and the route for chunks whose alphabet exceeds the
    uint8 Peq table. Loops over source positions (bounded by max_len),
    vectorized across the batch and target positions. Buffers are
    preallocated and updated in place — the loop is memory-bandwidth-bound,
    and temporary churn is what stops it scaling across many workers."""
    n = len(la)
    cols = np.arange(lmax)[None, :]
    matched_a = np.zeros((n, lmax), dtype=bool)
    matched_b = np.zeros((n, lmax), dtype=bool)
    colmask = cols < lb[:, None]       # static: valid target positions
    not_matched_b = np.ones((n, lmax), dtype=bool)
    win = window[:, None]
    tmp = np.empty((n, lmax), dtype=bool)
    rows = np.arange(n)
    for i in range(lmax):
        np.equal(b, a[:, i][:, None], out=tmp)
        tmp &= colmask
        tmp &= np.abs(cols - i) <= win
        tmp &= not_matched_b
        tmp[i >= la, :] = False
        has = tmp.any(axis=1)
        first = tmp.argmax(axis=1)
        hit = rows[has]
        matched_b[hit, first[has]] = True
        not_matched_b[hit, first[has]] = False
        matched_a[hit, i] = True
    return matched_a, matched_b


def _jaro_match_bitparallel(a, la, b, lb, window, lmax):
    """Greedy Jaro matching (earliest unmatched j with |j-i|<=win) on
    bitmasks: per source position the candidate set is ONE and-chain of
    uint64 words and the chosen j is its lowest set bit — O(ceil(L/64)) word
    ops per step instead of an O(L)-byte row scan. Returns the (n, lmax)
    bool matched masks (identical to the masked-loop matcher; pinned by
    hypothesis tests via jaro parity).
    """
    n = len(la)
    W = (lmax + 63) // 64
    rows = np.arange(n)
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    n_sym = int(max(a.max(initial=0), b.max(initial=0))) + 1
    peq = _build_peq(b, lb, lmax, n_sym)
    unmatched = np.empty((W, n), dtype=np.uint64)
    for w in range(W):
        bits = np.clip(lb - 64 * w, 0, 64)
        full = bits >= 64
        safe = np.where(full, 0, bits).astype(np.uint64)
        unmatched[w] = np.where(full, ones, (np.uint64(1) << safe) - np.uint64(1))
    matched_a = np.zeros((n, lmax), dtype=bool)
    matched_b_bits = np.zeros((W, n), dtype=np.uint64)
    wsel = np.arange(W)[None, :]
    cand = np.empty((W, n), dtype=np.uint64)
    for i in range(lmax):
        lo = np.maximum(i - window, 0)
        hi = np.minimum(i + window, lmax - 1)
        ci = a[:, i]
        eq_g = peq[rows[:, None], ci[:, None], wsel]  # (n, W)
        found = np.zeros(n, dtype=bool)
        src_ok = i < la
        for w in range(W):
            base = np.uint64(64 * w)
            # window bits of this word: [max(lo,64w), min(hi, 64w+63)]
            wlo = np.clip(lo - 64 * w, 0, 64)
            whi = np.clip(hi - 64 * w + 1, 0, 64)
            nbits = np.maximum(whi - wlo, 0).astype(np.uint64)
            fullw = nbits >= 64
            safe_n = np.where(fullw, 0, nbits).astype(np.uint64)
            span = np.where(fullw, ones, (np.uint64(1) << safe_n) - np.uint64(1))
            win_mask = span << wlo.astype(np.uint64)
            cw = eq_g[:, w] & win_mask & unmatched[w]
            cw = np.where(src_ok & ~found, cw, np.uint64(0))
            low = cw & (~cw + np.uint64(1))  # lowest set bit
            hit = low != 0
            if hit.any():
                unmatched[w][hit] &= ~low[hit]
                matched_b_bits[w][hit] |= low[hit]
                matched_a[hit, i] = True
                found |= hit
    # expand matched_b bitmasks to a bool matrix (little-endian bit order)
    mb_bytes = matched_b_bits.transpose(1, 0).copy().view(np.uint8)  # (n, W*8)
    matched_b = np.unpackbits(mb_bytes, axis=1, bitorder="little")[:, :lmax].astype(bool)
    return matched_a, matched_b


def _shared_eq_tensor(
    a: np.ndarray, b: np.ndarray, lb_s: int, lmax: int
) -> np.ndarray:
    """(ceil(lmax/64), lmax, n) uint64 tensor: bit j of word w at source
    position i == (b[row, 64w+j] == a[row, i] and 64w+j < lb_s) — i.e.
    ``out[w, i]`` is the contiguous per-row candidate word the inner loops
    stream.

    This is BOTH the jaro matcher's per-source-position candidate table AND
    — because Levenshtein is symmetric, so Myers can run with pattern=b and
    text=a — the Myers Peq gather (its first ceil(lb_s/64) words). Building
    it once per chunk removes one full Peq build + gather from the fused
    jw+lev kernel (the two were ~40% of its DRAM traffic, the contended
    bottleneck at 32 workers). The Peq table is built word-transposed
    ((W, n_sym, n)) so each word's gather lands directly in the final
    layout — no (n, lmax, W) intermediate + 8 MB transpose copy."""
    n = a.shape[0]
    W = (lmax + 63) // 64
    n_sym = int(max(a.max(initial=0), b.max(initial=0))) + 1
    valid = np.arange(lmax)[None, :] < np.full((n, 1), lb_s)
    peq_t = np.empty((W, n_sym, n), dtype=np.uint64)
    pad = W * 8
    for c in range(n_sym):
        mask = (b[:, :lmax] == c) & valid
        packed = np.packbits(mask, axis=1, bitorder="little")
        if packed.shape[1] < pad:
            packed = np.pad(packed, ((0, 0), (0, pad - packed.shape[1])))
        pw = packed.view(np.uint64)  # (n, W)
        for w in range(W):
            peq_t[w, c] = pw[:, w]
    rows = np.arange(n)
    at = a[:, :lmax].T  # (lmax, n)
    out = np.empty((W, lmax, n), dtype=np.uint64)
    for w in range(W):
        out[w] = peq_t[w][at, rows]
    return out


def _jaro_match_bitparallel_uniform(
    a: np.ndarray,
    b: np.ndarray,
    la_s: int,
    lb_s: int,
    lmax: int,
    eq_all: np.ndarray,
):
    """:func:`_jaro_match_bitparallel` specialized to UNIFORM lengths (every
    row has la == la_s and lb == lb_s) — the shape of the bench/pipeline
    streams, where the doc prefix always fills its budget, so a whole chunk
    shares one (la, lb). Everything per-row in the general matcher becomes a
    SCALAR here: the window bounds, the word-window bitmasks, the src_ok
    predicate (the i-loop simply stops at la_s) — and the per-source-position
    Peq gather is batched into ONE fancy-index op over all positions. Same
    greedy matching, bit-identical masks (parity-pinned via jaro hypothesis
    tests); measured ~2x on the 128-char uniform chunks the bench scores.
    """
    n = a.shape[0]
    W = (lmax + 63) // 64
    window = max(max(la_s, lb_s) // 2 - 1, 0)
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    unmatched = np.empty((W, n), dtype=np.uint64)
    for w in range(W):
        bits = min(max(lb_s - 64 * w, 0), 64)
        unmatched[w] = ones if bits >= 64 else np.uint64((1 << bits) - 1)
    matched_a = np.zeros((n, lmax), dtype=bool)
    matched_b_bits = np.zeros((W, n), dtype=np.uint64)
    one_u = np.uint64(1)
    for i in range(min(la_s, lmax)):
        lo = max(i - window, 0)
        hi = min(i + window, lmax - 1)
        found = None
        for w in range(W):
            wlo = min(max(lo - 64 * w, 0), 64)
            whi = min(max(hi - 64 * w + 1, 0), 64)
            nbits = whi - wlo
            if nbits <= 0:
                continue
            span = ones if nbits >= 64 else np.uint64(((1 << nbits) - 1) << wlo)
            cw = eq_all[w, i] & unmatched[w]
            if span != ones:
                cw &= span
            if found is not None:
                cw &= ~found  # rows matched by an earlier word this i
            low = cw & (~cw + one_u)  # lowest set bit (0 where no candidate)
            # branchless updates: low == 0 rows are no-ops under &=~ / |=
            unmatched[w] &= ~low
            matched_b_bits[w] |= low
            hit = low != 0
            matched_a[:, i] |= hit
            if W > 1 and w < W - 1:  # only later words consult `found`
                found = (
                    np.where(hit, ones, np.uint64(0))
                    if found is None
                    else np.where(hit, ones, found)
                )
    mb_bytes = matched_b_bits.transpose(1, 0).copy().view(np.uint8)
    matched_b = np.unpackbits(mb_bytes, axis=1, bitorder="little")[:, :lmax].astype(bool)
    return matched_a, matched_b


def _jaro_sim_from_matches(
    a: np.ndarray,
    la: np.ndarray,
    b: np.ndarray,
    lb: np.ndarray,
    matched_a: np.ndarray,
    matched_b: np.ndarray,
) -> np.ndarray:
    """Jaro score from the greedy match masks.

    Transpositions (r6): the matched chars of ``a`` in i-order and of ``b``
    in j-order are extracted with ONE boolean-mask compress each —
    ``a[matched_a]`` is row-major, i.e. grouped by row with ascending
    position, exactly the compacted order the old stable argsort +
    take_along_axis produced at ~8 MB of sort traffic per chunk. Both flats
    have the same per-row length m (each match pairs one position per
    side), so positionwise comparison + a bincount over mismatch rows is
    the transposition count, bit-identically."""
    n = len(la)
    m_int = matched_a.sum(axis=1)
    m = m_int.astype(np.float64)
    fa = a[matched_a]
    fb = b[matched_b]
    mism = fa != fb
    if mism.any():
        # row index of each flat match: the boolean compress is row-major,
        # so it is simply arange repeated by the per-row match counts — no
        # nonzero() scan needed
        rows_a = np.repeat(np.arange(n), m_int)
        t = np.bincount(rows_a[mism], minlength=n) / 2.0
    else:
        t = np.zeros(n)

    with np.errstate(divide="ignore", invalid="ignore"):
        sim = (m / la + m / lb + (m - t) / m) / 3.0
    sim = np.where(m == 0, 0.0, sim)
    sim = np.where((la == 0) & (lb == 0), 1.0, sim)
    return sim


def _winkler_from_jaro(
    jaro: np.ndarray,
    a: np.ndarray,
    la: np.ndarray,
    b: np.ndarray,
    lb: np.ndarray,
    prefix_weight: float,
) -> np.ndarray:
    """Unconditional Winkler prefix boost on a precomputed jaro vector."""
    upto = min(4, a.shape[1], b.shape[1])
    if upto == 0:
        return jaro
    both = np.minimum(np.minimum(la, lb), upto)
    eq = a[:, :upto] == b[:, :upto]
    # prefix length = index of first mismatch within `both`
    mism = ~eq | (np.arange(upto)[None, :] >= both[:, None])
    l = np.where(mism.any(axis=1), mism.argmax(axis=1), both)
    return jaro + l * prefix_weight * (1.0 - jaro)


def _lev_dp_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """DP Levenshtein on encoded codes (any alphabet width)."""
    n = len(la)
    l1 = int(la.max(initial=0))
    l2 = int(lb.max(initial=0))
    # dp rows over s2, iterate chars of s1; vectorized across batch
    prev = np.tile(np.arange(l2 + 1, dtype=np.int64), (n, 1))
    # cells beyond each string's own length are clamped at the end
    for i in range(1, l1 + 1):
        cur = np.empty_like(prev)
        cur[:, 0] = i
        ai = a[:, i - 1][:, None]
        sub_cost = (b[:, :l2] != ai).astype(np.int64)
        # left-to-right dependency: loop over j but vectorize batch
        diag = prev[:, :-1] + sub_cost
        up = prev[:, 1:] + 1
        best_wo_left = np.minimum(diag, up)
        for j in range(1, l2 + 1):
            cur[:, j] = np.minimum(best_wo_left[:, j - 1], cur[:, j - 1] + 1)
        active = (i <= la)[:, None]
        prev = np.where(active, cur, prev)
    dist = prev[np.arange(n), lb]
    return dist.astype(np.float64)


def _lev_myers_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """Exact Levenshtein distances via bit-parallel Myers, batch-vectorized,
    on compacted (uint8) codes with per-row lengths.

    Myers' bit-vector recurrence (Myers, JACM 1999; multi-word form after
    Hyyrö 2003) computes one DP COLUMN per text character in O(ceil(m/64))
    word operations instead of O(m) cells — ~64x less work and, more
    importantly for many-worker scaling, a working set of a few bitvector
    words per pair instead of O(L) DP rows (the classic kernel is
    DRAM-bandwidth-bound; this one stays in registers/L1).

    Vectorization layout: all per-pair bitvectors are (n,) uint64 arrays per
    word; the text loop runs max|b| times over the whole batch with an
    active mask. Every dependency in the recurrence flows from lower to
    higher bits (addition carries, left shifts), so sharing a uniform word
    count across pairs with different pattern lengths is exact — bits above
    a pair's own m-1 never influence its score bit.

    The uint8 Peq table is what keeps the gather step cheap; a chunk over
    255 symbols takes :func:`_lev_dp_coded` instead.
    """
    n = len(la)
    m_max = int(la.max(initial=0))
    n_max = int(lb.max(initial=0))
    if m_max == 0:
        return lb.astype(np.float64)
    W = (m_max + 63) // 64
    rows = np.arange(n)

    # Peq[i, c, w]: bitmask of pattern positions in word w where a[i] == c
    n_sym = int(max(a.max(initial=0), b.max(initial=0))) + 1
    peq = _build_peq(a, la, m_max, n_sym)

    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    # VP starts all-ones over each pair's own m bits
    vp = np.zeros((W, n), dtype=np.uint64)
    for w in range(W):
        bits = np.clip(la - 64 * w, 0, 64)
        full = bits >= 64
        safe_bits = np.where(full, 0, bits).astype(np.uint64)
        vp[w] = np.where(full, ones, (np.uint64(1) << safe_bits) - np.uint64(1))
    vn = np.zeros((W, n), dtype=np.uint64)
    score = la.astype(np.int64).copy()
    # per-pair location of the score bit (m-1)
    wm = np.maximum(la - 1, 0) // 64
    last_shift = (np.maximum(la - 1, 0) % 64).astype(np.uint64)

    eq = np.empty((W, n), dtype=np.uint64)
    wsel = np.arange(W)[None, :]
    for j in range(n_max):
        act = j < lb
        if not act.any():
            continue
        cj = b[:, j]
        eq_g = peq[rows[:, None], cj[:, None], wsel]  # (n, W)
        for w in range(W):
            eq[w] = eq_g[:, w]
        carry = np.zeros(n, dtype=np.uint64)
        hp_c = np.ones(n, dtype=np.uint64)  # left-border carry-in for HP<<1
        hn_c = np.zeros(n, dtype=np.uint64)
        dscore = np.zeros(n, dtype=np.int64)
        for w in range(W):
            x = eq[w] & vp[w]
            s1w = x + vp[w]
            c1 = (s1w < x).astype(np.uint64)
            s2w = s1w + carry
            c2 = (s2w < s1w).astype(np.uint64)
            carry = c1 | c2
            d0 = (s2w ^ vp[w]) | eq[w] | vn[w]
            hp = vn[w] | ~(d0 | vp[w])
            hn = vp[w] & d0
            sel = wm == w
            if sel.any():
                dscore[sel] = (
                    ((hp[sel] >> last_shift[sel]) & np.uint64(1)).astype(np.int64)
                    - ((hn[sel] >> last_shift[sel]) & np.uint64(1)).astype(np.int64)
                )
            hp_s = (hp << np.uint64(1)) | hp_c
            hn_s = (hn << np.uint64(1)) | hn_c
            hp_c = hp >> np.uint64(63)
            hn_c = hn >> np.uint64(63)
            vp_new = hn_s | ~(d0 | hp_s)
            vn_new = hp_s & d0
            vp[w] = np.where(act, vp_new, vp[w])
            vn[w] = np.where(act, vn_new, vn[w])
        score += np.where(act, dscore, 0)
    return score.astype(np.float64)


def _lev_myers_uniform_swapped(
    eq_all: np.ndarray, la_s: int, lb_s: int
) -> np.ndarray:
    """Myers over the SHARED equality tensor (:func:`_shared_eq_tensor`),
    specialized to UNIFORM lengths (see
    :func:`_jaro_match_bitparallel_uniform` for why this shape dominates):
    the score-bit word/shift and VP initialization are scalars and the
    inner loop reads contiguous (n,) words. Pattern = b and text = a —
    Levenshtein is symmetric, so the distance equals the pattern-a
    orientation of :func:`_lev_myers_coded` (integer-exact, parity-pinned),
    and the swap is what lets it reuse the jaro matcher's Peq gather instead
    of building its own."""
    n = eq_all.shape[2]
    if lb_s == 0:
        return np.full(n, float(la_s))
    W = (lb_s + 63) // 64
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    vp = np.empty((W, n), dtype=np.uint64)
    for w in range(W):
        bits = min(max(lb_s - 64 * w, 0), 64)
        vp[w] = ones if bits >= 64 else np.uint64((1 << bits) - 1)
    vn = np.zeros((W, n), dtype=np.uint64)
    # score stays uint64: a Levenshtein distance is never negative at any
    # intermediate step, so the +-1 updates cannot wrap
    score = np.full(n, lb_s, dtype=np.uint64)
    wm = (lb_s - 1) // 64
    ls = np.uint64((lb_s - 1) % 64)
    one = np.uint64(1)
    s63 = np.uint64(63)
    # preallocated buffers: the inner recurrence runs ~la_s*W times over
    # (n,) words; allocation-free in-place ufuncs keep the working set in a
    # handful of L2-resident buffers (the kernels are bandwidth-bound under
    # 32-worker contention, so avoided traffic is the win, not just malloc)
    carry = np.empty(n, dtype=np.uint64)
    hp_c = np.empty(n, dtype=np.uint64)
    hn_c = np.empty(n, dtype=np.uint64)
    x = np.empty(n, dtype=np.uint64)
    s1w = np.empty(n, dtype=np.uint64)
    s2w = np.empty(n, dtype=np.uint64)
    d0 = np.empty(n, dtype=np.uint64)
    hp = np.empty(n, dtype=np.uint64)
    hn = np.empty(n, dtype=np.uint64)
    t1 = np.empty(n, dtype=np.uint64)
    c1 = np.empty(n, dtype=bool)
    c2 = np.empty(n, dtype=bool)
    for j in range(la_s):
        carry[:] = 0
        hp_c[:] = 1
        hn_c[:] = 0
        for w in range(W):
            eqw = eq_all[w, j]
            vpw, vnw = vp[w], vn[w]
            np.bitwise_and(eqw, vpw, out=x)
            np.add(x, vpw, out=s1w)
            np.less(s1w, x, out=c1)
            np.add(s1w, carry, out=s2w)
            np.less(s2w, s1w, out=c2)
            np.logical_or(c1, c2, out=c1)
            np.copyto(carry, c1, casting="unsafe")
            np.bitwise_xor(s2w, vpw, out=d0)
            np.bitwise_or(d0, eqw, out=d0)
            np.bitwise_or(d0, vnw, out=d0)
            np.bitwise_or(d0, vpw, out=t1)
            np.invert(t1, out=t1)
            np.bitwise_or(t1, vnw, out=hp)
            np.bitwise_and(vpw, d0, out=hn)
            if w == wm:
                np.right_shift(hp, ls, out=t1)
                np.bitwise_and(t1, one, out=t1)
                score += t1
                np.right_shift(hn, ls, out=t1)
                np.bitwise_and(t1, one, out=t1)
                score -= t1
            # shift-in carries, then rotate this word's hp/hn into the
            # next word's carry slots
            np.left_shift(hp, one, out=t1)
            np.bitwise_or(t1, hp_c, out=t1)
            np.right_shift(hp, s63, out=hp_c)
            np.copyto(hp, t1)
            np.left_shift(hn, one, out=t1)
            np.bitwise_or(t1, hn_c, out=t1)
            np.right_shift(hn, s63, out=hn_c)
            np.copyto(hn, t1)
            np.bitwise_or(d0, hp, out=t1)
            np.invert(t1, out=t1)
            np.bitwise_or(t1, hn, out=vpw)
            np.bitwise_and(hp, d0, out=vnw)
    return score.astype(np.float64)



def jaro_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """Vectorized Jaro similarity over a batch of string pairs."""
    return char_sim_batch(s1, s2, {"jaro": 1.0}, max_len)


def jaro_winkler_batch(
    s1: np.ndarray,
    s2: np.ndarray,
    prefix_weight: float = JW_PREFIX_WEIGHT,
    max_len: int = DEFAULT_MAX_LEN,
) -> np.ndarray:
    """Vectorized Jaro-Winkler (unconditional prefix boost, l<=4)."""
    return char_sim_batch(s1, s2, {"jw": 1.0}, max_len, prefix_weight)


def scaled_levenshtein_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """1 - dist/max(len); 1.0 for two empty strings (py_stringmatching semantics)."""
    return char_sim_batch(s1, s2, {"lev": 1.0}, max_len)


def levenshtein_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """Levenshtein distances by the textbook DP (batch-vectorized): the
    reference the bit-parallel routes are tested against."""
    a, la = _encode_batch(s1, max_len)
    b, lb = _encode_batch(s2, max_len)
    return _lev_dp_coded(a, la, b, lb)


# ---------------------------------------------------------------------------
# pandas UDF (Arrow-batched; the Column-level API the operators use)
# ---------------------------------------------------------------------------


def make_weighted_char_sim_udf(
    weighted: dict[str, float],
    max_len: int = DEFAULT_MAX_LEN,
    prefix_weight: float = JW_PREFIX_WEIGHT,
):
    """One pandas UDF computing ``sum_k w_k * kernel_k`` over the same pair
    (:func:`char_sim_batch`); NULL on either side scores NULL.

    The Arrow transport of the two prefix columns (the dominant fixed cost of
    a python kernel at 10^6+ pairs/batch), the codepoint encode AND the
    alphabet compaction are paid ONCE for all char kernels instead of once
    per kernel. ``prefix_weight`` is the Winkler boost of ``jw``.
    """
    weights = dict(weighted)
    empty = np.empty(0, dtype=object)
    char_sim_batch(empty, empty, weights)  # unknown kernels fail at plan build

    @pandas_udf("double")
    def sim_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        null1, null2 = s1.isna().to_numpy(), s2.isna().to_numpy()
        x = np.where(null1, "", s1.to_numpy(dtype=object))
        y = np.where(null2, "", s2.to_numpy(dtype=object))
        res = pd.Series(char_sim_batch(x, y, weights, max_len, prefix_weight))
        res[null1 | null2] = None
        return res

    return sim_udf


def token_jaccard_col(t1: Column, t2: Column) -> Column:
    """Set Jaccard over two token arrays, JVM-side (array_intersect/union)."""
    t1d, t2d = F.array_distinct(t1), F.array_distinct(t2)
    inter = F.size(F.array_intersect(t1d, t2d)).cast("double")
    union = F.size(F.array_union(t1d, t2d)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)

