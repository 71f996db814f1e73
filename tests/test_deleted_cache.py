"""Packed-deletes caching: the groupBy pack shuffle of the deletes
parquet runs once per deletes-state, not once per search (the lazy
BitVector is computed once per reader in the reference,
c/src/index.c:5729-5745)."""

import ferret_spark as fs
import ferret_spark.wand as W
from ferret_spark.ind import FerretIndex


def test_packed_deletes_reused_across_searches(spark, tmp_path, monkeypatch):
    # packed deletes belong to the distributed path; this 24-doc index is
    # under the driver-local bound, so pin the distributed path
    monkeypatch.setattr(W, "DRIVER_POSTINGS_MAX", 0)
    rows = [(i, f"alpha beta w{i % 7} doc") for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    idx = FerretIndex(
        spark, str(tmp_path / "idx"), {"content": "whitespace"}, seg_size=8
    )
    idx.add_documents(df, doc_id_col="doc_id")
    idx.delete_by_term("content", "w3")

    q = fs.TermQuery(field="content", term="alpha")
    r1 = {r["doc_id"] for r in idx.search(q, k=30).collect()}
    cache1 = idx.index._packed_del_cache
    assert cache1 is not None and cache1[1].is_cached
    r2 = {r["doc_id"] for r in idx.search(q, k=30).collect()}
    # same deletes state -> same persisted packed frame
    assert idx.index._packed_del_cache[1] is cache1[1]
    assert r1 == r2
    assert all(i % 7 != 3 for i in r1)

    # a new delete changes the state key -> repack, old frame unpersisted
    idx.delete_by_term("content", "w5")
    r3 = {r["doc_id"] for r in idx.search(q, k=30).collect()}
    cache3 = idx.index._packed_del_cache
    assert cache3[0] != cache1[0] and cache3[1] is not cache1[1]
    assert not cache1[1].is_cached
    assert all(i % 7 not in (3, 5) for i in r3)
