"""Driver-local top-k: small exact-pair queries are scored on the driver
(pyarrow-read postings, the shared scoring closures, a local relation)
and must return exactly what the distributed plan and the oracle return:
same doc ids, same order, same float32 scores."""

import logging

import numpy as np
import pytest

import ferret_spark.wand as W
from ferret_spark.ind import FerretIndex
from ferret_spark.oracle import OracleIndex
from ferret_spark.segments import parquet_rows
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    MultiTermQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from ferret_spark.spans import SpanNearQuery, SpanTermQuery

FC = {"content": "whitespace"}
SEG = 8
N_BATCH = 40


def _batch(seed: int):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(16)]
    p = 1.0 / np.arange(1, 17)
    p /= p.sum()
    return [
        {"doc_id": i, "content": " ".join(rng.choice(vocab, int(rng.integers(4, 14)), p=p))}
        for i in range(N_BATCH)
    ]


def T(t):
    return TermQuery(field="content", term=t)


@pytest.fixture(scope="module")
def two_gen(spark, tmp_path_factory):
    """Two add_documents generations (ids 0..39 and 40..79, five 8-doc
    segments each) with deletes pending; the oracle covers every doc
    added, since deleted docs keep counting in the collection stats
    until optimize."""
    a, b = _batch(1), _batch(2)
    idx = FerretIndex(spark, str(tmp_path_factory.mktemp("drv") / "i"), FC, seg_size=SEG)
    idx.add_documents(spark.createDataFrame(a), doc_id_col="doc_id")
    idx.add_documents(spark.createDataFrame(b), doc_id_col="doc_id")
    assert len(idx._meta()["generations"]) == 2
    oracle = OracleIndex([{"content": r["content"]} for r in a + b], FC)
    dead = set(oracle.hits(T("w11"))) | set(oracle.hits(T("w14")))
    assert idx.delete_by_term("content", "w11") + idx.delete_by_term("content", "w14") >= len(dead)
    assert dead
    return idx, oracle, dead


def _oracle(oracle, dead, q, k, offset):
    hits = [(d, s) for d, s in oracle.search(q, k=10**6) if d not in dead]
    return hits[offset:] if k is None else hits[offset : offset + k]


def _run(idx, q, k, offset, caplog):
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="ferret_spark.wand"):
        rows = idx.search(q, k=k, offset=offset).collect()
    paths = [r.getMessage() for r in caplog.records if "path=" in r.getMessage()]
    return [(r["doc_id"], np.float32(r["score"])) for r in rows], paths


QUERIES = [
    (T("w3"), 10, 0),
    (T("w1"), None, 0),
    (T("w2"), 5, 3),
    (MultiTermQuery(field="content", terms=(("w1", 1.0), ("w5", 0.5), ("w9", 2.0))), 10, 0),
    (PrefixQuery(field="content", prefix="w1"), 10, 0),
    (BooleanQuery.of((T("w1"), MUST), (T("w2"), SHOULD), (T("w3"), MUST_NOT)), 10, 0),
    (BooleanQuery.of((T("w4"), SHOULD), (T("w6"), SHOULD)), None, 2),
    (BooleanQuery.of((T("w0"), MUST), (PhraseQuery.of("content", ["w0", "w1"]), SHOULD)), 10, 0),
    (PhraseQuery.of("content", ["w0", "w1"]), 10, 0),
    (PhraseQuery.of("content", ["w0", "w2"], slop=2), None, 0),
    (PhraseQuery.of("content", ["w0", "w1", "w2"], slop=3), 10, 0),
    (PhraseQuery.of("content", [("w1", "w2"), "w0"]), 10, 0),
    (
        SpanNearQuery(
            clauses=(SpanTermQuery(field="content", term="w1"), SpanTermQuery(field="content", term="w0")),
            slop=2,
            in_order=True,
        ),
        10,
        0,
    ),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_driver_matches_distributed_and_oracle(two_gen, qi, monkeypatch, caplog):
    idx, oracle, dead = two_gen
    q, k, offset = QUERIES[qi]
    want = _oracle(oracle, dead, q, k, offset)
    assert want, "query must have hits"
    got_local, paths = _run(idx, q, k, offset, caplog)
    assert paths and all("path=driver" in p for p in paths), paths
    monkeypatch.setattr(W, "DRIVER_POSTINGS_MAX", 0)
    got_dist, paths = _run(idx, q, k, offset, caplog)
    assert paths and all("path=distributed" in p for p in paths), paths
    assert got_local == got_dist == want


def test_phrase_groups_on_driver(two_gen, monkeypatch, caplog):
    """A forced phrase group width concatenates several segments' streams
    per group on the driver too; the result must not depend on it."""
    idx, oracle, dead = two_gen
    q = PhraseQuery.of("content", ["w0", "w1"], slop=1)
    want = _oracle(oracle, dead, q, 10, 0)
    for g in (2, 3):
        monkeypatch.setattr(idx.index, "phrase_group_segs", g, raising=False)
        got, paths = _run(idx, q, 10, 0, caplog)
        assert "path=driver" in paths[0]
        assert got == want


def test_bound_selects_path(two_gen, monkeypatch, caplog):
    """The bound counts the query terms' global dfs plus the pending
    deletes: a query at the bound runs on the driver, one posting over it
    takes the distributed plan. Both give the oracle's answer."""
    idx, oracle, dead = two_gen
    q = BooleanQuery.of((T("w2"), SHOULD), (T("w5"), SHOULD))
    # footer row count: one row per doc and delete call that matched it
    n_del = parquet_rows(idx._deleted_path())
    postings = sum(len(oracle.hits(T(t))) for t in ("w2", "w5")) + n_del
    want = _oracle(oracle, dead, q, 10, 0)
    for bound, path in ((postings, "driver"), (postings - 1, "distributed")):
        monkeypatch.setattr(W, "DRIVER_POSTINGS_MAX", bound)
        got, paths = _run(idx, q, 10, 0, caplog)
        assert paths == [
            f"segment_search path={path} postings={postings} bound={bound}"
        ]
        assert got == want


def test_driver_result_is_a_local_relation(two_gen):
    """Collecting a driver-path result launches no Spark job."""
    idx, _oracle, _dead = two_gen
    sc = idx.spark.sparkContext
    sc.setJobGroup("driver_local_probe", "driver_local_probe")
    try:
        rows = idx.search(T("w3"), k=10).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("driver_local_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows and list(jobs) == []
