"""The dedup token-id layer: one exact overlap operator, two routes.

:func:`dedup.token_overlap` picks the bitset or the explode route from the
vocabulary; every caller must return the same rows whichever route runs.
The routes are forced through the module constants.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from entityresolution_capstone_spark.operators import dedup as D

BITSET = {"VERIFY_BITSET_MAX_WORDS": 64}
EXPLODE = {"VERIFY_BITSET_MAX_WORDS": 0}


@pytest.fixture(scope="module")
def documents(spark):
    """Overlapping windows over a 90-token vocabulary (two mask words; the
    64th id sits on bit 63), exact duplicates, and a doc without tokens."""
    toks = [f"tok{i:03d}" for i in range(90)]
    rows = [(d, " ".join(toks[d * 2 : d * 2 + 40])) for d in range(25)]
    rows += [(100 + d, rows[d][1]) for d in range(0, 25, 6)]  # exact dups
    rows += [(200, "!!! ..."), (201, toks[0] + " " + toks[89])]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _verify_threshold0(documents):
    """Threshold 0 keeps every candidate: pairs sharing no token (and pairs
    with the token-less doc 200) come back with jaccard 0."""
    docs = D.prepare_docs(documents)
    pairs = documents.sparkSession.createDataFrame(
        [(0, 1), (0, 24), (3, 200), (0, 201), (24, 201), (0, 100)], "id1 long, id2 long"
    )
    return D.token_jaccard_verify(pairs, docs, 0.0)


def _cross(documents):
    return D.cross_minhash_duplicates(
        documents.filter(F.col("doc_id") % 2 == 1),
        documents.filter(F.col("doc_id") % 2 == 0),
        D.MinHashConfig(jaccard_threshold=0.5),
    )


def _minhash_error(documents):
    docs = D.prepare_docs(documents)
    return D.minhash_jaccard_error(docs, D.dedup_token_dict(docs), D.MinHashConfig())


CALLERS = {
    "minhash": (
        lambda d: D.minhash_duplicates(d, D.MinHashConfig(jaccard_threshold=0.5)),
        [BITSET, EXPLODE],
    ),
    "cross_minhash": (_cross, [BITSET, EXPLODE]),
    "ngram": (lambda d: D.ngram_jaccard_duplicates(d, n=3, threshold=0.3), [BITSET, EXPLODE]),
    "minhash_error": (_minhash_error, [BITSET, EXPLODE]),
    "verify_threshold0": (_verify_threshold0, [BITSET, EXPLODE]),
    # emit-once (masks ride the join) vs pair-distinct with either overlap route
    "prefix": (
        lambda d: D.prefix_jaccard_join(d, threshold_num=400_000),
        [
            {"EMIT_ONCE_MAX_WORDS": 4},
            {"EMIT_ONCE_MAX_WORDS": 0, **BITSET},
            {"EMIT_ONCE_MAX_WORDS": 0, **EXPLODE},
        ],
    ),
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_routes_agree_through_every_caller(spark, documents, caller, monkeypatch):
    run, forcings = CALLERS[caller]
    results = []
    for forced in forcings:
        with monkeypatch.context() as m:
            for name, value in forced.items():
                m.setattr(D, name, value)
            df = run(documents)
            results.append(sorted(tuple(r) for r in df.collect()))
    assert len(results[0]) > 0
    for got in results[1:]:
        assert got == results[0]
    if caller == "verify_threshold0":
        jac = {(r[0], r[1]): r[2] for r in results[0]}
        assert len(jac) == 6
        assert jac[(3, 200)] == 0.0 and jac[(0, 24)] == 0.0
        assert jac[(0, 201)] == 1 / 41 and jac[(0, 100)] == 1.0


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_route_decision_costs_at_most_two_jobs(spark, monkeypatch):
    """On pinned candidates and a pinned dictionary above the bitset gate,
    the verify's route decision — its vocabulary probe — costs at most 2
    jobs (it reads the dictionary's narrow id projection, never re-running
    the dictionary build), and the plan it then runs is the one the forced
    explode route builds without a probe. Only the probe's own jobs are
    counted: the job count of a whole verify depends on AQE re-planning,
    which depends on timing."""
    # 250 docs of 20 tokens, neighbours sharing 2: vocab 4502 > 64 * 64
    docs = spark.createDataFrame(
        [(i, [f"w{i * 18 + k}" for k in range(20)]) for i in range(250)],
        "doc_id long, tokens array<string>",
    )
    tdict = D.dedup_token_dict(docs)
    assert D.vocab_size(tdict) > 64 * D.VERIFY_BITSET_MAX_WORDS
    cand = spark.createDataFrame(
        [(i, i + 1) for i in range(249)], "id1 long, id2 long"
    ).localCheckpoint(eager=True)

    probe, probe_jobs = D.vocab_size, []

    def counted_probe(token_dict):
        out = []
        probe_jobs.append(_jobs(spark, lambda: out.append(probe(token_dict))))
        return out[0]

    monkeypatch.setattr(D, "vocab_size", counted_probe)
    auto = D.token_jaccard_verify(cand, docs, 0.05, token_dict=tdict)
    assert len(probe_jobs) == 1 and probe_jobs[0] <= 2, probe_jobs
    monkeypatch.setattr(D, "vocab_size", lambda token_dict: 1 << 40)  # explode, no probe
    forced = D.token_jaccard_verify(cand, docs, 0.05, token_dict=tdict)
    executed = [df._jdf.queryExecution().executedPlan() for df in (auto, forced)]
    assert executed[0].sameResult(executed[1])
    # every neighbour pair has J = 2/38
    assert auto.count() == forced.count() == 249
