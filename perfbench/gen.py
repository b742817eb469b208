"""Seeded input generators for the benchmark workloads.

The benchmark owns its inputs: nothing here imports the library's test
fixture generator, so editing fixtures can never shift the benchmark's data.
Every generator derives all randomness from ``numpy.random.PCG64(seed)`` and
returns plain pandas frames plus a ``stats`` dict that the benchmark prints.

- :func:`score_heavy`: small shared vocabulary (dense-TF-IDF range), long
  conversations, a hot token in half of them, small dense entities.
- :func:`near_dup`: documents with planted near-duplicate groups whose exact
  token Jaccard to the group's base sits on both sides of the threshold.

Entity, conversation and document counts are fixed per workload (``scale``
only shrinks them for the smoke test); the seed moves token and pair counts
by a few percent, so the work per run barely depends on it.
"""

from __future__ import annotations

import itertools
import re
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

_CONS = list("bcdfghjklmnpqrstvwz")
_VOWS = list("aeiou")
ROLES = ("user", "assistant", "tool")


def _rng(seed: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(seed))


def _vocab(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """n distinct consonant-vowel words of length in [lo, hi], in draw order."""
    cons, vows = np.array(_CONS), np.array(_VOWS)
    out: dict[str, None] = {}
    while len(out) < n:
        m = n - len(out)
        lens = rng.integers(lo, hi + 1, m)
        grid = np.where(
            np.arange(hi) % 2 == 0,
            cons[rng.integers(0, len(cons), (m, hi))],
            vows[rng.integers(0, len(vows), (m, hi))],
        )
        for row, k in zip(grid, lens):
            out.setdefault("".join(row[:k]), None)
    return list(out)[:n]


def tokenize(text: str) -> list[str]:
    """Python twin of the library's ``functions.text.tokenize``."""
    return re.sub(r"[^a-zA-Z0-9]", " ", text.strip()).lower().split()


def _transcripts(convs: list[tuple[str, int, list[str]]], turns: int):
    """(conv_id, entity, tokens) -> (transcripts, labels) frames."""
    base = datetime(2024, 1, 1)
    t_rows, l_rows = [], []
    for n, (cid, ent, toks) in enumerate(convs):
        per = max(1, -(-len(toks) // turns))
        for t, i in enumerate(range(0, len(toks), per)):
            role = ROLES[t % 3]
            t_rows.append(
                (cid, t, role, " ".join(toks[i : i + per]),
                 "search" if role == "tool" else "",
                 base + timedelta(minutes=n, seconds=t))
            )
        l_rows.append((cid, ent))
    tr = pd.DataFrame(t_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    tr["turn_idx"] = tr["turn_idx"].astype("int32")
    lb = pd.DataFrame(l_rows, columns=["conv_id", "entity_id"])
    lb["entity_id"] = lb["entity_id"].astype("int64")
    return tr, lb


def _conv_ids(rng, n: int) -> list[str]:
    # ids in random order, so no entity's conversations are id-contiguous
    return [f"c{i:06d}" for i in rng.permutation(n)]


def _pair_stats(entities: list[int]) -> int:
    counts = pd.Series(entities).value_counts()
    return int((counts * (counts - 1) // 2).sum())


def _corpus_stats(convs, turns_total: int) -> dict:
    vocab = {t for _, _, toks in convs for t in toks}
    return {
        "convs": len(convs),
        "turns": turns_total,
        "distinct_tokens": len(vocab),
        "true_pairs": _pair_stats([e for _, e, _ in convs]),
    }


def score_heavy(seed: int, scale: float = 1.0):
    """(transcripts, labels, stats) for the scoring-bound workload."""
    rng = _rng(seed)
    n_ent = max(4, int(100 * scale))
    per_ent, length, turns = 4, 48, 8
    vocab = _vocab(rng, 220, 5, 8)
    hot = "hotword"
    convs = []
    ids = iter(_conv_ids(rng, n_ent * per_ent))
    for ent in range(n_ent):
        template = [vocab[int(i)] for i in rng.integers(0, len(vocab), length)]
        prev = None
        for _ in range(per_ent):
            if prev is not None and rng.random() < 0.1:
                toks = list(prev)
            else:
                toks = []
                for w in template:
                    r = rng.random()
                    if r < 0.04:
                        continue
                    toks.append(vocab[int(rng.integers(0, len(vocab)))] if r < 0.12 else w)
                if rng.random() < 0.5:
                    toks.insert(int(rng.integers(8, len(toks))), hot)
            prev = toks
            convs.append((next(ids), ent, toks))
    tr, lb = _transcripts(convs, turns)
    return tr, lb, _corpus_stats(convs, len(tr))


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def near_dup(seed: int, threshold: float, scale: float = 1.0):
    """(documents, planted, stats) for the dedup workload.

    ``planted`` holds every within-group pair (id1 < id2) with its exact
    token Jaccard; groups draw from disjoint slices of a large vocabulary,
    so no pair across groups or with a background document can reach the
    threshold.
    """
    rng = _rng(seed)
    n_groups = max(4, int(300 * scale))
    n_bg = max(4, int(1500 * scale))
    length = 40
    # replacements per variant: J to the base = (40-k)/(40+k)
    # = 1.0, 0.818, 0.739 (above 0.7) and 0.667, 0.6 (below)
    ks = (0, 4, 6, 8, 10)
    # every drawn token is fresh, so groups and background docs share none
    fresh = iter(_vocab(rng, n_groups * (length + sum(ks)) + n_bg * length, 6, 11))

    def take(k):
        return [next(fresh) for _ in range(k)]

    docs, planted = [], []
    ids = iter(int(i) for i in rng.permutation(n_groups * len(ks) + n_bg))
    for _ in range(n_groups):
        base = take(length)
        group = []
        for k in ks:
            toks = list(base)
            for pos in rng.choice(length, k, replace=False):
                toks[int(pos)] = take(1)[0]
            group.append((next(ids), toks))
        docs += group
        for (i, a), (j, b) in itertools.combinations(group, 2):
            planted.append((min(i, j), max(i, j), jaccard(set(a), set(b))))
    for _ in range(n_bg):
        docs.append((next(ids), take(length)))
    df = pd.DataFrame(
        [(i, " ".join(t)) for i, t in docs], columns=["doc_id", "text"]
    )
    df["doc_id"] = df["doc_id"].astype("int64")
    pl = pd.DataFrame(planted, columns=["id1", "id2", "jaccard"])
    n_vocab = len({t for _, toks in docs for t in toks})
    stats = {
        "docs": len(df),
        "distinct_tokens": n_vocab,
        "planted_pairs": len(pl),
        "true_pairs": int((pl["jaccard"] >= threshold).sum()),
    }
    return df, pl, stats
