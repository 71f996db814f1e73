"""Self-tests of the benchmark: seeded inputs, the correctness gate, and
count metrics that repeat exactly for one seed.

    python3 -m pytest perfbench/tests -q

The last test runs each workload four times (about ten minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from ferret_spark.query import MUST, BooleanQuery, PhraseQuery, TermQuery  # noqa: E402

from perfbench import inputs, verify  # noqa: E402


def _inputs(seed):
    pdf = inputs.corpus_rows(seed, 0, 300)
    pool = inputs.query_pool(seed, pdf, 6)
    return pdf, pool, inputs.query_stream(seed, pool, 200)


def test_same_seed_same_inputs():
    a_pdf, a_pool, a_stream = _inputs(5)
    b_pdf, b_pool, b_stream = _inputs(5)
    pd.testing.assert_frame_equal(a_pdf, b_pdf)
    assert a_pool == b_pool
    assert a_stream == b_stream
    batches = [inputs.corpus_rows(5, 500_000 + i * 100, 100) for i in range(2)]
    assert inputs.delete_terms(5, batches) == inputs.delete_terms(5, batches)


def test_other_seed_other_corpus():
    a_pdf, a_pool, _ = _inputs(5)
    b_pdf, b_pool, _ = _inputs(6)
    assert not set(a_pdf["commit"]) & set(b_pdf["commit"])
    assert not set(a_pdf["content"]) & set(b_pdf["content"])
    assert a_pool != b_pool


def test_pool_covers_every_class_and_repeats():
    _pdf, pool, stream = _inputs(5)
    assert [c for c, _q in pool].count("phrase") == 6
    assert {c for c, _q in pool} == set(inputs.CLASSES)
    assert len(set(stream)) < len(stream)  # Zipf popularity: queries repeat


@pytest.fixture(scope="module")
def reference():
    pdf = inputs.corpus_rows(7, 0, 200)
    return pdf, verify.Reference(pdf, inputs.FIELD_CONFIG)


def _perturbations(want):
    """Copies of a correct top-k, each wrong in one way."""
    (d0, s0), (d1, s1) = want[0], want[1]
    yield [(d0, np.nextafter(s0, np.float32(0)))] + want[1:]  # one ulp off
    yield [(d1, s1), (d0, s0)] + want[2:]  # two ranks swapped
    yield want[:-1]  # a hit dropped
    yield [(d0 + 1, s0)] + want[1:]  # another doc


def test_gate_flags_perturbed_single_results(reference):
    pdf, ref = reference
    q = BooleanQuery.of(
        (TermQuery(field="content", term="def"), MUST),
        (TermQuery(field="content", term="return"), MUST),
    )
    want = ref.search(q, 10)
    assert len(want) == 10
    rows = [{"doc_id": d, "score": float(s)} for d, s in want]
    assert verify.topk(rows) == want
    for bad in _perturbations(want):
        bad_rows = [{"doc_id": d, "score": float(s)} for d, s in bad]
        assert verify.topk(bad_rows) != want


def test_gate_flags_perturbed_batch_results(reference):
    _pdf, ref = reference
    qs = [TermQuery(field="content", term="class"), PhraseQuery.of("content", ["def", "class"])]
    wants = [ref.search(q, 10) for q in qs]
    rows = [(qid, r + 1, d, float(s)) for qid, w in enumerate(wants) for r, (d, s) in enumerate(w)]
    assert verify.batch_topk(rows) == dict(enumerate(wants))
    for bad in _perturbations(wants[0]):
        bad_rows = [(0, r + 1, d, float(s)) for r, (d, s) in enumerate(bad)] + rows[len(wants[0]):]
        assert verify.batch_topk(bad_rows) != dict(enumerate(wants))


def test_gate_flags_perturbed_docs_table(reference, tmp_path):
    import hashlib

    pdf, _ref = reference
    shas = [hashlib.sha256(c.encode()).hexdigest() for c in pdf["content"]]
    good = tmp_path / "good"
    bad = tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    tbl = pa.table({"doc_id": pdf["doc_id"].to_numpy(), "sha256_content": shas})
    pq.write_table(tbl, good / "part-0.parquet")
    assert verify.sha_mismatches(str(good), pdf) == 0
    shas[3] = hashlib.sha256(b"perturbed").hexdigest()
    pq.write_table(
        pa.table({"doc_id": pdf["doc_id"].to_numpy(), "sha256_content": shas}),
        bad / "part-0.parquet",
    )
    assert verify.sha_mismatches(str(bad), pdf) == 1


def test_metric_map_matches_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(REPO, "perfbench", "metrics.json")) as f:
        where = json.load(f)
    named = {m["name"]: kind for kind in ("end_to_end", "per_layer") for m in spec[kind]}
    assert named == {k: v["kind"] for k, v in where.items()}
    workloads = {w["name"] for w in spec["workloads"]}
    for v in where.values():
        assert set(v["workloads"]) <= workloads


def _run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return result["metrics"]


@pytest.mark.parametrize("workload", ["build_query", "ingest_mixed"])
def test_same_seed_same_counts(workload):
    """Counts (jobs, tasks, bytes, index size ratio) repeat exactly."""
    for trace in (1, 0):
        a, b = (_run(workload, 3, trace) for _ in range(2))
        counts = [k for k, m in a.items()
                  if m["unit"] in ("count", "bytes", "ratio")]
        assert counts
        for k in counts:
            assert a[k]["value"] == b[k]["value"], k
