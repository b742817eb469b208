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

All kernels are *batch* functions ``(ndarray[str], ndarray[str]) -> ndarray
[float64]``: the per-character loops run over the (bounded) max string length,
vectorized with NumPy across the whole Arrow batch — no per-row Python in the
hot path. Strings are truncated to ``max_len`` (default 64) before comparison;
callers must apply the same truncation in any SQL oracle.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_MAX_LEN = 64
JW_PREFIX_WEIGHT = 0.1  # reference default, main.py:276-279


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
    eq_all: np.ndarray | None = None,
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
    if eq_all is None:
        # one gather for every source position, transposed to (lmax, W, n)
        # so the inner loop reads CONTIGUOUS (n,) slices instead of striding
        # through an (n, lmax, W) cube (cache-miss bound at 128-char chunks)
        eq_all = _shared_eq_tensor(a, b, lb_s, lmax)
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


def jaro_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """Vectorized Jaro similarity over a batch of string pairs.

    Fast path: byte-identical pairs score 1.0 without entering the matching
    loop — near-duplicate corpora hit this constantly. The matcher itself is
    the bit-parallel greedy matcher above whenever the batch alphabet fits
    the uint8 Peq table (it always does after _compact_codes succeeds).
    """
    a, la = _encode_batch(s1, max_len)
    b, lb = _encode_batch(s2, max_len)
    a, b = _compact_codes(a, b)
    return _jaro_coded(a, la, b, lb)


def _jaro_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """:func:`jaro_batch` on pre-encoded (and normally pre-compacted) codes.

    The coded entry exists so the fused weighted UDF encodes + compacts each
    chunk ONCE for all char kernels (r5; the per-kernel wrappers re-encoded
    the same chunk up to 6x, ~58% of the fused kernel's profile). Byte-equal
    subsets recurse on SLICED matrices instead of re-encoding; a subset is
    never re-compacted, so a >255-symbol batch whose unequal subset would
    fit uint8 takes the masked-loop matcher where the wrapper path might
    re-try compaction — matcher choice only, the matchers are parity-pinned.
    """
    n = len(la)
    lmax = int(max(la.max(initial=0), lb.max(initial=0)))
    if lmax == 0:
        # py_stringmatching returns 1.0 for two empty strings, 0 otherwise
        return np.where((la == 0) & (lb == 0), 1.0, 0.0)
    a, b = a[:, :lmax], b[:, :lmax]

    equal = (la == lb) & (a == b).all(axis=1)
    if equal.any():
        out = np.ones(n, dtype=np.float64)
        idx = ~equal
        if idx.any():
            out[idx] = _jaro_coded(a[idx], la[idx], b[idx], lb[idx])
        return out

    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    cols = np.arange(lmax)[None, :]  # (1, L)

    if a.dtype == np.uint8:
        # compact alphabet -> bit-parallel greedy matcher (O(L/64) words per
        # source position; register/L1-resident working set). Uniform-length
        # chunks (the bench/pipeline shape: prefixes fill their budget) take
        # the scalar-mask specialization.
        if la.min() == la.max() and lb.min() == lb.max():
            matched_a, matched_b = _jaro_match_bitparallel_uniform(
                a, b, int(la[0]), int(lb[0]), lmax
            )
        else:
            matched_a, matched_b = _jaro_match_bitparallel(a, la, b, lb, window, lmax)
    else:
        matched_a = np.zeros((n, lmax), dtype=bool)
        matched_b = np.zeros((n, lmax), dtype=bool)
        # Greedy left-to-right matching: loop over source positions (bounded
        # by max_len), vectorized across the batch and target positions.
        # Buffers are preallocated and updated in place — the loop is
        # memory-bandwidth-bound, and temporary churn is what stops it
        # scaling across many workers.
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

    return _jaro_sim_from_matches(a, la, b, lb, matched_a, matched_b)


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


def jaro_winkler_batch(
    s1: np.ndarray,
    s2: np.ndarray,
    prefix_weight: float = JW_PREFIX_WEIGHT,
    max_len: int = DEFAULT_MAX_LEN,
) -> np.ndarray:
    """Vectorized Jaro-Winkler (unconditional prefix boost, l<=4)."""
    a, la = _encode_batch(s1, max_len)
    b, lb = _encode_batch(s2, max_len)
    a, b = _compact_codes(a, b)
    return _jaro_winkler_coded(a, la, b, lb, prefix_weight=prefix_weight)


def _jaro_winkler_coded(
    a: np.ndarray,
    la: np.ndarray,
    b: np.ndarray,
    lb: np.ndarray,
    prefix_weight: float = JW_PREFIX_WEIGHT,
) -> np.ndarray:
    """JW on pre-encoded full-width codes (see :func:`_jaro_coded`). The
    prefix-equality check runs on the compacted codes the jaro matcher uses —
    the remap is injective, so equality (all this check reads) is unchanged
    from the raw-codepoint check the standalone wrapper used to make."""
    jaro = _jaro_coded(a, la, b, lb)
    return _winkler_from_jaro(jaro, a, la, b, lb, prefix_weight)


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


def levenshtein_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """Vectorized Levenshtein distance (DP over positions, batch-vectorized)."""
    a, la = _encode_batch(s1, max_len)
    b, lb = _encode_batch(s2, max_len)
    a, b = _compact_codes(a, b)
    return _lev_dp_coded(a, la, b, lb)


def _lev_dp_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """DP Levenshtein on pre-encoded codes (see :func:`_jaro_coded`)."""
    n = len(la)
    l1 = int(la.max(initial=0))
    l2 = int(lb.max(initial=0))

    lm = max(l1, l2)
    equal = (la == lb) & (a[:, :lm] == b[:, :lm]).all(axis=1) if lm else (la == lb)
    if equal.any():
        out = np.zeros(n, dtype=np.float64)
        idx = ~equal
        if idx.any():
            out[idx] = _lev_dp_coded(a[idx], la[idx], b[idx], lb[idx])
        return out

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


def levenshtein_batch_bitparallel(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """Exact Levenshtein distances via bit-parallel Myers, batch-vectorized.

    Myers' bit-vector recurrence (Myers, JACM 1999; multi-word form after
    Hyyrö 2003) computes one DP COLUMN per text character in O(ceil(m/64))
    word operations instead of O(m) cells — ~64x less work and, more
    importantly for many-worker scaling, a working set of a few bitvector
    words per pair instead of O(L) DP rows (the classic kernel is
    DRAM-bandwidth-bound; this one stays in registers/L1).

    Vectorization layout: all per-pair bitvectors are (n,) uint64 arrays per
    word; the text loop runs max|s2| times over the whole batch with an
    active mask. Every dependency in the recurrence flows from lower to
    higher bits (addition carries, left shifts), so sharing a uniform word
    count across pairs with different pattern lengths is exact — bits above
    a pair's own m-1 never influence its score bit.

    Falls back to the DP kernel when the batch alphabet exceeds 255 symbols
    (the uint8 Peq table is what keeps the gather step cheap).
    """
    n = len(s1)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    a, la = _encode_batch(s1, max_len)
    b, lb = _encode_batch(s2, max_len)
    a, b = _compact_codes(a, b)
    return _lev_myers_coded(a, la, b, lb)


def _lev_myers_uniform(a: np.ndarray, la_s: int, b: np.ndarray, lb_s: int) -> np.ndarray:
    """:func:`_lev_myers_coded` specialized to UNIFORM lengths (see
    :func:`_jaro_match_bitparallel_uniform` for why this shape dominates):
    the active mask, score-bit word/shift and VP initialization are scalars,
    the per-text-position Peq gather batches into one fancy-index op, and
    the carry flags stay boolean (no astype churn). Identical recurrence,
    bit-identical distances (parity-pinned by the kernel tests)."""
    n = a.shape[0]
    if la_s == 0:
        return np.full(n, float(lb_s))
    W = (la_s + 63) // 64
    n_sym = int(max(a.max(initial=0), b.max(initial=0))) + 1
    peq = _build_peq(a, np.full(n, la_s, dtype=np.int64), la_s, n_sym)
    rows = np.arange(n)
    # one gather for all text positions, transposed to (lb_s, W, n) so the
    # inner loop reads contiguous (n,) slices (see the jaro uniform matcher)
    eq_all = np.ascontiguousarray(peq[rows[:, None], b[:, :lb_s], :].transpose(1, 2, 0))
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    vp = np.empty((W, n), dtype=np.uint64)
    for w in range(W):
        bits = min(max(la_s - 64 * w, 0), 64)
        vp[w] = ones if bits >= 64 else np.uint64((1 << bits) - 1)
    vn = np.zeros((W, n), dtype=np.uint64)
    score = np.full(n, la_s, dtype=np.int64)
    wm = (la_s - 1) // 64
    ls = np.uint64((la_s - 1) % 64)
    one = np.uint64(1)
    s63 = np.uint64(63)
    for j in range(lb_s):
        carry = np.zeros(n, dtype=np.uint64)
        hp_c = np.ones(n, dtype=np.uint64)  # left-border carry-in for HP<<1
        hn_c = np.zeros(n, dtype=np.uint64)
        for w in range(W):
            eqw = eq_all[j, w]
            x = eqw & vp[w]
            s1w = x + vp[w]
            c1 = s1w < x
            s2w = s1w + carry
            c2 = s2w < s1w
            carry = (c1 | c2).astype(np.uint64)
            d0 = (s2w ^ vp[w]) | eqw | vn[w]
            hp = vn[w] | ~(d0 | vp[w])
            hn = vp[w] & d0
            if w == wm:
                score += ((hp >> ls) & one).astype(np.int64)
                score -= ((hn >> ls) & one).astype(np.int64)
            hp_s = (hp << one) | hp_c
            hn_s = (hn << one) | hn_c
            hp_c = hp >> s63
            hn_c = hn >> s63
            vp[w] = hn_s | ~(d0 | hp_s)
            vn[w] = hp_s & d0
    return score.astype(np.float64)


def _lev_myers_uniform_swapped(
    eq_all: np.ndarray, la_s: int, lb_s: int
) -> np.ndarray:
    """Myers over the SHARED equality tensor (:func:`_shared_eq_tensor`),
    with pattern = b and text = a — Levenshtein is symmetric, so the
    distance is identical to :func:`_lev_myers_uniform`'s pattern-a
    orientation (integer-exact, parity-pinned), and the orientation swap is
    what lets the fused jw+lev kernel reuse the jaro matcher's Peq gather
    instead of building its own."""
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


def _lev_myers_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """Myers bit-parallel Levenshtein on pre-encoded codes (see
    :func:`_jaro_coded`). The uint8 Peq table needs a compacted alphabet;
    when shared compaction failed (>255 distinct codes — ``a`` still int32)
    this falls back to the DP kernel, exactly as the wrapper always did."""
    n = len(la)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    if a.dtype != np.uint8:
        return _lev_dp_coded(a, la, b, lb)

    m_max = int(la.max(initial=0))
    n_max = int(lb.max(initial=0))
    if m_max == 0:
        return lb.astype(np.float64)
    if la.min() == m_max and lb.min() == n_max:
        return _lev_myers_uniform(a, m_max, b, n_max)
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


def scaled_levenshtein_batch(
    s1: np.ndarray, s2: np.ndarray, max_len: int = DEFAULT_MAX_LEN
) -> np.ndarray:
    """1 - dist/max(len); 1.0 for two empty strings (py_stringmatching semantics)."""
    a_len = np.array([min(len(x or ""), max_len) for x in s1], dtype=np.float64)
    b_len = np.array([min(len(x or ""), max_len) for x in s2], dtype=np.float64)
    dist = levenshtein_batch_bitparallel(s1, s2, max_len=max_len)
    mx = np.maximum(a_len, b_len)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = 1.0 - dist / mx
    return np.where(mx == 0, 1.0, sim)


def _scaled_lev_coded(
    a: np.ndarray, la: np.ndarray, b: np.ndarray, lb: np.ndarray
) -> np.ndarray:
    """scaled_levenshtein_batch on pre-encoded codes.
    ``la``/``lb`` ARE min(len, max_len) — :func:`_encode_batch` truncates
    before measuring — so the length normalization is byte-identical to the
    wrapper's own per-string recount."""
    dist = _lev_myers_coded(a, la, b, lb)
    mx = np.maximum(la, lb).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = 1.0 - dist / mx
    return np.where(mx == 0, 1.0, sim)


# ---------------------------------------------------------------------------
# pandas UDF wrappers (Arrow-batched; the Column-level API the operators use)
# ---------------------------------------------------------------------------

KERNEL_CHUNK = 4096  # rows per internal slice: keeps the (chunk x L) working
# set inside the per-core L3 share so 32 concurrent workers don't fight for
# DRAM bandwidth (the scaling-efficiency killer), regardless of Arrow batch size


def make_pair_sim_udf(kind: str = "jaro_winkler", max_len: int = DEFAULT_MAX_LEN):
    """Return a pandas UDF Column fn (col1, col2) -> double for the given kernel."""
    kernels = {
        "jaro": lambda x, y: jaro_batch(x, y, max_len=max_len),
        "jaro_winkler": lambda x, y: jaro_winkler_batch(x, y, max_len=max_len),
        "scaled_lev": lambda x, y: scaled_levenshtein_batch(x, y, max_len=max_len),
    }
    kernel = kernels[kind]

    @pandas_udf("double")
    def sim_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        x = s1.to_numpy(dtype=object)
        y = s2.to_numpy(dtype=object)
        null = pd.isna(s1) | pd.isna(s2)
        x = np.where(pd.isna(s1), "", x)
        y = np.where(pd.isna(s2), "", y)
        n = len(x)
        out = np.empty(n, dtype=np.float64)
        for lo in range(0, n, KERNEL_CHUNK):
            hi = min(lo + KERNEL_CHUNK, n)
            out[lo:hi] = kernel(x[lo:hi], y[lo:hi])
        res = pd.Series(out)
        res[null.to_numpy()] = None
        return res

    return sim_udf


def make_weighted_char_sim_udf(
    weighted: dict[str, float],
    max_len: int = DEFAULT_MAX_LEN,
    prefix_weight: float = JW_PREFIX_WEIGHT,
):
    """One pandas UDF computing ``sum_k w_k * kernel_k`` over the same pair.

    The Arrow transport of the two prefix columns (the dominant fixed cost of
    a python kernel at 10^6+ pairs/batch), the codepoint encode AND the
    alphabet compaction are paid ONCE for all char kernels instead of once
    per kernel — the kernels run their ``_coded`` entries on the shared
    matrices (r5; the wrapper path re-encoded each chunk up to 6x and
    re-compacted twice, measured at ~58% of the fused kernel's profile, all
    of it redundant). ``prefix_weight`` is the Winkler boost of ``jw``.
    """
    kernels = {
        "jaro": _jaro_coded,
        "jw": functools.partial(_jaro_winkler_coded, prefix_weight=prefix_weight),
        "lev": _scaled_lev_coded,
    }
    parts = [(kernels[k], w) for k, w in weighted.items()]
    names = list(weighted)
    total_w = float(sum(weighted.values()))

    def _fused_uniform_chunk(a, la_s, b, lb_s, lmax):
        """Uniform-length chunk with the SHARED equality tensor: byte-equal
        pairs split off first (every kernel scores them 1.0, so the weighted
        sum is Σw — the same value each kernel's own equal fast path
        produces), then ONE _shared_eq_tensor feeds both the jaro matcher
        and the side-swapped Myers. Bit-identical to summing the standalone
        kernels (each helper is the exact code path those kernels run)."""
        n_c = a.shape[0]
        acc = np.full(n_c, total_w)
        equal = (
            (a[:, :lmax] == b[:, :lmax]).all(axis=1)
            if la_s == lb_s
            else np.zeros(n_c, dtype=bool)
        )
        idx = np.nonzero(~equal)[0]
        if len(idx) == 0:
            return acc
        au, bu = a[idx, :lmax], b[idx, :lmax]
        n_u = len(idx)
        eq_all = _shared_eq_tensor(au, bu, lb_s, lmax)
        sub = np.zeros(n_u)
        jaro = None
        if "jaro" in names or "jw" in names:
            la_u = np.full(n_u, la_s, dtype=np.int64)
            lb_u = np.full(n_u, lb_s, dtype=np.int64)
            ma, mb = _jaro_match_bitparallel_uniform(
                au, bu, la_s, lb_s, lmax, eq_all=eq_all
            )
            jaro = _jaro_sim_from_matches(au, la_u, bu, lb_u, ma, mb)
        for k, w in weighted.items():
            if k == "jaro":
                sub += w * jaro
            elif k == "jw":
                sub += w * _winkler_from_jaro(
                    jaro, au, la_u, bu, lb_u, prefix_weight
                )
            else:  # lev
                dist = _lev_myers_uniform_swapped(eq_all, la_s, lb_s)
                sub += w * (1.0 - dist / float(max(la_s, lb_s)))
        acc[idx] = sub
        return acc

    @pandas_udf("double")
    def sim_udf(s1: pd.Series, s2: pd.Series) -> pd.Series:
        x = s1.to_numpy(dtype=object)
        y = s2.to_numpy(dtype=object)
        null = pd.isna(s1) | pd.isna(s2)
        x = np.where(pd.isna(s1), "", x)
        y = np.where(pd.isna(s2), "", y)
        n = len(x)
        out = np.zeros(n, dtype=np.float64)
        for lo in range(0, n, KERNEL_CHUNK):
            hi = min(lo + KERNEL_CHUNK, n)
            a, la = _encode_batch(x[lo:hi], max_len)
            b, lb = _encode_batch(y[lo:hi], max_len)
            a, b = _compact_codes(a, b)
            n_c = hi - lo
            # modal-length routing: real pair streams are DOMINATED by one
            # (la, lb) combination (the bench stream is 96% (128, 128) —
            # prefixes usually fill their budget) but rarely 100% uniform,
            # so a strict all-uniform gate would never fire. Split the
            # chunk: the modal subset takes the fused shared-tensor path,
            # the remainder (typically a few %) the general per-kernel
            # path. Identical values either way (parity-pinned).
            if n_c and a.dtype == np.uint8:
                comb = la * (max_len + 1) + lb
                vals, counts = np.unique(comb, return_counts=True)
                mi = int(counts.argmax())
                la_m = int(vals[mi]) // (max_len + 1)
                lb_m = int(vals[mi]) % (max_len + 1)
                if counts[mi] >= 256 and max(la_m, lb_m) > 0:
                    lmax_m = max(la_m, lb_m)
                    sel = comb == vals[mi]
                    if counts[mi] == n_c:
                        out[lo:hi] = _fused_uniform_chunk(a, la_m, b, lb_m, lmax_m)
                        continue
                    acc = np.empty(n_c, dtype=np.float64)
                    acc[sel] = _fused_uniform_chunk(
                        a[sel], la_m, b[sel], lb_m, lmax_m
                    )
                    rest = ~sel
                    ar, br = a[rest], b[rest]
                    lar, lbr = la[rest], lb[rest]
                    racc = np.zeros(int(rest.sum()), dtype=np.float64)
                    for fn, w in parts:
                        racc += w * fn(ar, lar, br, lbr)
                    acc[rest] = racc
                    out[lo:hi] = acc
                    continue
            acc = np.zeros(n_c, dtype=np.float64)
            for fn, w in parts:
                acc += w * fn(a, la, b, lb)
            out[lo:hi] = acc
        res = pd.Series(out)
        res[null.to_numpy()] = None
        return res

    return sim_udf


def token_jaccard_col(t1: Column, t2: Column) -> Column:
    """Set Jaccard over two token arrays, JVM-side (array_intersect/union)."""
    t1d, t2d = F.array_distinct(t1), F.array_distinct(t2)
    inter = F.size(F.array_intersect(t1d, t2d)).cast("double")
    union = F.size(F.array_union(t1d, t2d)).cast("double")
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
