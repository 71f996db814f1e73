"""Seeded benchmark inputs: corpora, query pools, query streams, batches.

Everything here is a pure function of the seed. The program under test
receives only the generated tables and query objects.

The corpus comes from ``fixtures.synth_rows``, whose row ``i`` draws from
a Philox stream that starts at counter ``i``. Neighbouring rows therefore
share most of their stream (row ``i + 1`` repeats row ``i``'s tokens
shifted by one counter block), so a document is one row, and documents sit
``DOC_STRIDE`` rows apart: further than one row's whole draw. A seed
selects a disjoint block of rows, so two seeds index disjoint corpora while
one seed always indexes the same.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ferret_spark import fixtures
from ferret_spark.query import (
    MUST,
    MUST_NOT,
    SHOULD,
    BooleanQuery,
    FuzzyQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
    WildcardQuery,
)

FIELD = "content"
# bench.py's field set: the same analyzers the build headline has used
FIELD_CONFIG = {"content": "standard_nostop", "lang": "keyword"}
CLASSES = ("term", "bool", "phrase", "multiterm")

# A row draws one 64-bit output per token (at most synth_rows' max_tokens,
# 10000) plus a few for its length, four outputs per counter block: about
# 2501 blocks. The stride is a prime above that, so repo and lang still
# vary from doc to doc.
DOC_STRIDE = 4099
# Each seed owns a block of SEED_DOCS documents; workloads take disjoint
# sub-ranges of that block.
SEED_DOCS = 1_000_000
ROW_BASE = 10_000_000

# Zipf bands over vocabulary rank (fixtures draws tokens Zipf(1.1) by rank)
BANDS = {"hot": (0, 40), "mid": (100, 1000), "rare": (2000, 8000)}


def corpus_rows(seed: int, start: int, n: int) -> pd.DataFrame:
    """``n`` synthetic source files for ``seed``, documents [start,
    start+n) of its block, with a dense ``doc_id`` 0..n-1."""
    first = (seed * SEED_DOCS + start) * DOC_STRIDE + ROW_BASE
    rows = range(first, first + n * DOC_STRIDE, DOC_STRIDE)
    pdf = pd.concat([fixtures.synth_rows(r, r + 1) for r in rows], ignore_index=True)
    pdf.insert(0, "doc_id", np.arange(n, dtype=np.int64))
    return pdf


def _vocab() -> list[str]:
    return [t.lower() for t in fixtures.build_vocab()]


def _band_term(rng: np.random.Generator, vocab: list[str], band: str) -> str:
    lo, hi = BANDS[band]
    return vocab[int(rng.integers(lo, hi))]


def _doc_tokens(pdf: pd.DataFrame, rng: np.random.Generator) -> list[str]:
    """Lower-cased tokens of one random document (the synthetic content is
    vocabulary words separated by single spaces or newlines, all of which
    the standard analyzer keeps whole)."""
    while True:
        toks = pdf["content"].iloc[int(rng.integers(len(pdf)))].lower().split()
        if len(toks) >= 8:
            return toks


def _t(term: str) -> TermQuery:
    return TermQuery(field=FIELD, term=term)


def query_pool(seed: int, pdf: pd.DataFrame, per_class: int) -> list[tuple[str, object]]:
    """``per_class`` distinct queries of each class, as (class, query).

    term: hot, mid and rare Zipf bands in turn; bool: AND, OR and NOT in
    turn; phrase: exact and sloppy phrases cut from corpus documents, so
    each matches at least one document; multiterm: prefix, wildcard and
    fuzzy rewrites of short mid-band terms ending in three digits."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab()
    pool: list[tuple[str, object]] = []
    for cls in CLASSES:
        picked: set = set()
        i = 0
        while len(picked) < per_class:
            kind = i % 3
            i += 1
            if cls == "term":
                q = _t(_band_term(rng, vocab, ("hot", "mid", "rare")[kind]))
            elif cls == "bool":
                a = _band_term(rng, vocab, "hot")
                b = _band_term(rng, vocab, "mid")
                if kind == 0:
                    q = BooleanQuery.of((_t(a), MUST), (_t(b), MUST))
                elif kind == 1:
                    c = _band_term(rng, vocab, "rare")
                    q = BooleanQuery.of(
                        (_t(b), SHOULD), (_t(c), SHOULD), (_t(a), SHOULD)
                    )
                else:
                    q = BooleanQuery.of((_t(a), MUST), (_t(b), MUST_NOT))
            elif cls == "phrase":
                toks = _doc_tokens(pdf, rng)
                p = int(rng.integers(len(toks) - 4))
                if kind == 2:
                    q = PhraseQuery.of(FIELD, [toks[p], toks[p + 3]], slop=3)
                else:
                    q = PhraseQuery.of(FIELD, toks[p : p + 2 + kind])
            else:
                # the expansion of a prefix, wildcard or fuzzy term grows
                # steeply with a short prefix or a long fuzzy term; short
                # terms with a three-digit suffix keep the pool's cost alike
                # across seeds
                t = ""
                while not (5 <= len(t) <= 8 and t[-3:].isdigit()):
                    t = _band_term(rng, vocab, "mid")
                if kind == 0:
                    q = PrefixQuery(field=FIELD, prefix=t[: max(2, len(t) - 1)])
                elif kind == 1:
                    j = int(rng.integers(1, len(t)))
                    q = WildcardQuery(field=FIELD, pattern=t[:j] + "?" + t[j + 1 :])
                else:
                    q = FuzzyQuery(field=FIELD, term=t + "q", min_sim=0.75)
            if q not in picked:
                picked.add(q)
                pool.append((cls, q))
    return pool


def query_stream(seed: int, pool: list[tuple[str, object]], n: int) -> list[int]:
    """Pool indices in issue order for one closed-loop client. Classes
    take turns so each class gets the same share of samples; within a
    class, query popularity follows Zipf(1.1), so popular queries repeat."""
    rng = np.random.default_rng([seed, 2])
    by_class = {c: [i for i, (k, _) in enumerate(pool) if k == c] for c in CLASSES}
    out = []
    for j in range(n):
        idx = by_class[CLASSES[j % len(CLASSES)]]
        w = 1.0 / np.arange(1, len(idx) + 1) ** 1.1
        out.append(idx[int(rng.choice(len(idx), p=w / w.sum()))])
    return out


def batchable(q) -> bool:
    """Shapes wand.segment_batch_search accepts: everything but phrases."""
    return not isinstance(q, PhraseQuery)


def delete_terms(seed: int, batches: list[pd.DataFrame]) -> list[str]:
    """One delete term per ingest batch: a rare-band word of a random
    document in that batch, so every delete removes a few docs."""
    rng = np.random.default_rng([seed, 3])
    rare = set(_vocab()[BANDS["rare"][0] : BANDS["rare"][1]])
    out = []
    for pdf in batches:
        while True:
            cands = sorted(set(_doc_tokens(pdf, rng)) & rare)
            if cands:
                out.append(cands[int(rng.integers(len(cands)))])
                break
    return out
