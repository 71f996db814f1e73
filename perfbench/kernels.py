"""Driver-local layer kernels, timed without Spark on the run's own data.

These isolate the per-core cost of three layers the Spark stages wrap:
inversion (``segments.invert_partition``), the posting codec and the
vectorized phrase matcher (``phrase_np``).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.dataset as ds

from ferret_spark import phrase_np
from ferret_spark.codec import decode_posting_list, encode_posting_list_flat
from ferret_spark.segments import invert_partition

REPS = 3


def _median_wall(fn) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def invert_docs_per_s(pdf, field_config: dict) -> float:
    """``invert_partition`` on one segment-sized pandas slice."""
    return len(pdf) / _median_wall(lambda: invert_partition(pdf, field_config, 0))


def _segment_rows(seg_dir: str, field: str, terms) -> list[dict]:
    dset = ds.dataset(seg_dir, format="parquet")
    flt = (ds.field("field") == field) & ds.field("term").isin(sorted(set(terms)))
    return dset.to_table(filter=flt).to_pylist()


def codec_mb_per_s(seg_dir: str, field: str, terms) -> tuple[float, float]:
    """(encode, decode) MB/s of encoded posting bytes, on the postings of
    ``terms`` as stored in the built index."""
    rows = _segment_rows(seg_dir, field, terms)
    nbytes = sum(
        len(r["doc_bin"]) + len(r["tf_bin"]) + len(r["pos_bin"]) + len(r["dl_bin"])
        for r in rows
    )
    decoded = [decode_posting_list(r, with_positions="flat") for r in rows]

    def encode():
        for ids, tfs, (pos, _bounds), dls in decoded:
            encode_posting_list_flat(ids, tfs, pos, dls)

    def decode():
        for r in rows:
            decode_posting_list(r, with_positions="flat")

    mb = max(nbytes, 1) / 1e6
    return mb / _median_wall(encode), mb / _median_wall(decode)


def _slot_positions(dec, cand):
    """Flat positions and per-doc lengths of the candidate docs of one
    decoded posting list."""
    ids, _tfs, (pos, bounds), _dls = dec
    at = np.searchsorted(ids, cand)
    lo, hi = bounds[at], bounds[at + 1]
    lens = hi - lo
    idx = np.repeat(lo - np.cumsum(np.r_[0, lens[:-1]]), lens) + np.arange(lens.sum())
    return pos[idx], lens


def phrase_docs_per_s(seg_dir: str, field: str, phrases) -> float:
    """``exact_freqk_flat`` / ``sloppy_freqk_flat`` over the candidate
    docs of each phrase (docs holding every slot term), per segment.
    Phrases with a repeated term take the engine's per-doc path and are
    skipped here."""
    work = []
    for q in phrases:
        terms = [alts[0] for _off, alts in q.positions]
        if len(set(terms)) != len(terms):
            continue
        by_seg: dict[int, dict[str, dict]] = {}
        for r in _segment_rows(seg_dir, field, terms):
            by_seg.setdefault(r["seg_id"], {})[r["term"]] = r
        offsets = [off for off, _alts in q.positions]
        for seg in by_seg.values():
            if len(seg) != len(terms):
                continue
            decs = [decode_posting_list(seg[t], with_positions="flat") for t in terms]
            cand = decs[0][0]
            for d in decs[1:]:
                cand = np.intersect1d(cand, d[0])
            if len(cand):
                slots = [_slot_positions(d, cand) for d in decs]
                work.append((q.slop, offsets, slots, len(cand)))
    n_docs = sum(w[3] for w in work)
    if not n_docs:
        return 0.0

    def run():
        for slop, offsets, slots, _n in work:
            flats = [s[0] for s in slots]
            lens = [s[1] for s in slots]
            if slop:
                phrase_np.sloppy_freqk_flat(flats, lens, offsets, slop)
            else:
                phrase_np.exact_freqk_flat(flats, lens, offsets)

    return n_docs / _median_wall(run)
