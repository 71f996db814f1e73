"""Correctness gate. Runs after the measured phases, outside every timed
region and outside memory sampling.

Reference results come from ``oracle.OracleIndex``, the repository's
pure-Python searcher, never from the engine under test. Top-k lists
compare exactly: same doc ids, same order, same float32 scores.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from ferret_spark.oracle import OracleIndex


def topk(rows, id_col: str = "doc_id") -> list[tuple[int, np.float32]]:
    """Engine rows -> [(doc_id, float32 score)] in rank order."""
    return [(int(r[id_col]), np.float32(r["score"])) for r in rows]


def batch_topk(rows) -> dict[int, list[tuple[int, np.float32]]]:
    """Batch search rows (query_id, rank, doc_id, score) -> {query_id:
    ranked [(doc_id, float32 score)]}."""
    out: dict[int, list] = {}
    for qid, _rank, doc, score in sorted(rows, key=lambda r: (r[0], r[1])):
        out.setdefault(int(qid), []).append((int(doc), np.float32(score)))
    return out


class Reference:
    """OracleIndex over ``pdf`` rows whose engine doc ids are ``ids``
    (ascending, so the oracle's doc-order tie break maps onto the
    engine's)."""

    def __init__(self, pdf: pd.DataFrame, field_config: dict, ids=None):
        self.ids = np.asarray(
            pdf["doc_id"] if ids is None else ids, dtype=np.int64
        )
        if len(self.ids) > 1 and not np.all(np.diff(self.ids) > 0):
            raise ValueError("reference ids must be strictly ascending")
        cols = list(field_config)
        self.oracle = OracleIndex(pdf[cols].to_dict("records"), field_config)

    def search(self, q, k: int = 10, skip=frozenset()) -> list[tuple[int, np.float32]]:
        """Top k, leaving out the engine ids in ``skip`` but not their
        share of the collection statistics: docs deleted and not yet
        expunged by optimize."""
        hits = self.oracle.search(q, k + len(skip))
        out = [(int(self.ids[d]), np.float32(s)) for d, s in hits]
        return [h for h in out if h[0] not in skip][:k]

    def hits(self, q) -> set[int]:
        return {int(self.ids[d]) for d in self.oracle.hits(q)}


def sha_mismatches(docs_dir: str, pdf: pd.DataFrame, id_map=None) -> int:
    """Docs whose stored ``sha256_content`` differs from the sha256 of the
    source row's content, plus source rows missing from the table."""
    tbl = ds.dataset(docs_dir, format="parquet").to_table(
        columns=["doc_id", "sha256_content"]
    )
    stored = dict(zip(tbl.column("doc_id").to_pylist(),
                      tbl.column("sha256_content").to_pylist()))
    ids = pdf["doc_id"].to_numpy() if id_map is None else id_map
    bad = 0
    for i, content in zip(ids, pdf["content"]):
        want = hashlib.sha256(content.encode("utf-8")).hexdigest()
        bad += stored.get(int(i)) != want
    return bad


def parquet_bytes(path: str) -> int:
    """Bytes of every parquet file of an index (docs, segments, merged
    generations, term stats), skipping manifest, deletes and caches."""
    skip = {"manifest", "deleted", "filter_cache"}
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if f.endswith(".parquet")
        )
    return total
