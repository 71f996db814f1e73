"""ingest_mixed: small writes beside reads on one FerretIndex.

The index starts empty. Each seeded batch of new documents goes through
``add_documents``, then one ``delete_by_term``, then a window of single
searches on the uncached, multi-generation index. Then ``search_batch``
runs on that index, and traced runs end with ``optimize`` and one phrase
query. Every result is checked against the oracle. This is the
same segments build code and the same ``wand.segment_search`` as
build_query, but in small fixed-cost-dominated calls, with packed deletes
and merge generations and without caching: a build or query change that
wins on bulk or cached reads but costs on small writes or uncached reads
shows here.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from ferret_spark.ind import FerretIndex
from ferret_spark.query import TermQuery
from ferret_spark.segments import SegmentIndexBuilder, read_manifest

from perfbench import inputs, verify
from perfbench.common import Ctx

N_BATCHES = 2
BATCH_DOCS = 150
WARM_DOCS = 50
POOL_PER_CLASS = 4
# --seconds sizes each search window at this nominal rate of uncached
# searches (4-core host), so one seed issues the same operations anywhere
SEARCHES_PER_S = 1.0
DOC_OFFSET = 500_000  # a part of the seed's block build_query never reads
FC = inputs.FIELD_CONFIG


def run(ctx: Ctx) -> None:
    spark, tr = ctx.spark, ctx.tr
    ctx.mark("session")
    batches = [
        inputs.corpus_rows(ctx.seed, DOC_OFFSET + b * BATCH_DOCS, BATCH_DOCS)
        for b in range(N_BATCHES)
    ]
    pool = inputs.query_pool(ctx.seed, pd.concat(batches), POOL_PER_CLASS)
    per_window = max(2, round(SEARCHES_PER_S * ctx.seconds / N_BATCHES))
    stream = inputs.query_stream(ctx.seed, pool, per_window * N_BATCHES)
    dterms = inputs.delete_terms(ctx.seed, batches)
    batch_ids = [i for i, (_c, q) in enumerate(pool) if inputs.batchable(q)]
    batch_qs = [pool[i][1] for i in batch_ids]
    dfs = [spark.createDataFrame(p) for p in batches]
    ctx.mark("inputs")

    # warm-up: the first add (the staged build) in a scratch index; the
    # append path of later adds, deletes and searches over deletes are
    # left cold to keep set-up short
    warm_path = os.path.join(ctx.work, "warm")
    FerretIndex(spark, warm_path, FC).add_documents(
        dfs[0].limit(WARM_DOCS), doc_id_col="doc_id"
    )
    shutil.rmtree(warm_path, ignore_errors=True)

    path = os.path.join(ctx.work, "index")
    ferret = FerretIndex(spark, path, FC)
    issued = []  # (phase, pool index, rows)
    n_deleted, generations = [], []

    def search(q):
        return ferret.search(q, k=10)

    def search_window(phase: int):
        for _ in range(per_window):
            pi = stream[len(issued)]
            cls, q = pool[pi]
            rows = ctx.search_op(cls, q, len(issued), search)
            issued.append((phase, pi, rows))

    with ctx.rss.sampling():
        ctx.setup_done()
        for b, df in enumerate(dfs):
            ctx.attempted += 2
            with tr.span("ind.add", b):
                ferret.add_documents(df, doc_id_col="doc_id")
            with open(os.path.join(path, "meta.json")) as f:
                generations.append(len(json.load(f).get("generations", [])))
            with tr.span("ind.delete", b):
                n_deleted.append(ferret.delete_by_term("content", dterms[b]))
            search_window(b)
        index_bytes = verify.parquet_bytes(path)

        def batch():
            return ferret.search_batch(batch_qs, k=10)

        brows = ctx.batch_op(batch, timed=False)
        for _ in range(2):
            ctx.batch_op(batch, timed=True)
        # optimize alone takes a fifth of a run, so only traced runs pay
        # for it: the runs that give end-to-end figures must fit the
        # benchmark's time budget
        if ctx.traced:
            ctx.attempted += 1
            with tr.span("ind.optimize", 0):
                ferret.optimize()
            # optimize re-encodes positions: a phrase query, not a latency
            # sample, checks them against the oracle over the survivors
            pi = next(i for i, (c, _q) in enumerate(pool) if c == "phrase")
            rows = ctx.search_op("phrase", pool[pi][1], len(issued), search, kind="final")
            issued.append((N_BATCHES, pi, rows))

    if ctx.traced:
        ctx.overhead_probe(pool, search)
        ctx.rewrite_pass(pool, ferret.index)
        ctx.kernel_layers(batches[0], FC, os.path.join(path, "segments"), pool)
    tr.finish()

    # ---------------------------------------------------- correctness gate
    t_verify = time.perf_counter()
    with open(os.path.join(path, "meta.json")) as f:
        bases = [lo for lo, _hi in json.load(f)["id_ranges"]]
    ids = [bases[b] + p["doc_id"].to_numpy() for b, p in enumerate(batches)]
    everything = pd.concat(batches, ignore_index=True)
    all_ids = np.concatenate(ids)
    # until optimize expunges them, deleted docs still count in the
    # collection statistics, as in the reference engine: the reference for
    # the searches after batch b is the oracle over batches 0..b that
    # leaves out the docs deleted so far
    refs = [
        verify.Reference(pd.concat(batches[: b + 1]), FC, np.concatenate(ids[: b + 1]))
        for b in range(N_BATCHES)
    ]
    deleted: list[set] = []  # ids deleted once batch b's delete has run
    gone: set = set()
    for b, term in enumerate(dterms):
        hit = refs[b].hits(TermQuery(field="content", term=term)) - gone
        if n_deleted[b] != len(hit):
            ctx.fail(f"delete_by_term {term!r}", f"deleted {n_deleted[b]}, expected {len(hit)}")
        gone = gone | hit
        deleted.append(set(gone))
    keep = ~np.isin(all_ids, sorted(gone))
    survivors = everything[keep]
    for phase, pi, rows in issued:
        if rows is None:
            continue
        if phase < N_BATCHES:
            ref, skip = refs[phase], deleted[phase]
        else:  # after optimize
            ref, skip = verify.Reference(survivors, FC, all_ids[keep]), frozenset()
        if verify.topk(rows) != ref.search(pool[pi][1], 10, skip):
            ctx.fail(f"search pool[{pi}] {pool[pi][1]!r}", f"top-k after phase {phase} differs from OracleIndex")
    if brows is not None:
        got = verify.batch_topk(brows)
        for qid, pi in enumerate(batch_ids):
            if got.get(qid, []) != refs[-1].search(pool[pi][1], 10, gone):
                ctx.fail(f"search_batch query {qid} {pool[pi][1]!r}", "top-k differs from OracleIndex")
                break
    bad_sha = verify.sha_mismatches(os.path.join(path, "docs"), survivors, all_ids[keep])
    if bad_sha:
        ctx.fail("add_documents", f"{bad_sha} docs rows with a wrong sha256_content")
    ctx.info["verify_s"] = time.perf_counter() - t_verify
    ctx.info["deleted_docs"] = len(gone)
    timed = [pi for p, pi, _r in issued if p < N_BATCHES]
    ctx.info["pool_repeat_frac"] = 1 - len(set(timed)) / len(timed)

    content_bytes = int(everything["content"].str.encode("utf-8").str.len().sum())
    ctx.e2e["index_docs_per_s"] = len(everything) / sum(tr.walls("ind.add"))
    ctx.e2e["index_bytes_per_content_byte"] = index_bytes / content_bytes
    ctx.query_metrics(len(batch_qs))
    if ctx.traced:
        ctx.query_layers()
        manifest = read_manifest(spark, path)
        for stage in SegmentIndexBuilder.STAGES:
            ctx.layer[f"segments.{stage}_s"] = manifest[stage]["elapsed_sec"]
        for stage in ("docs", "segments", "merged"):
            ctx.layer[f"segments.{stage}_bytes"] = manifest[stage]["bytes"]
        for name, unit in (("ind.add", 1), ("ind.delete", 1e3), ("ind.optimize", 1)):
            spans = tr.named(name)
            key = f"{name}_{'ms' if unit == 1e3 else 's'}"
            ctx.layer[key] = float(np.median([s.wall for s in spans])) * unit
            ctx.layer[f"{name}.jobs"] = float(np.median([tr.subtree(s)[0] for s in spans]))
        ctx.layer["ind.generations_max"] = max(generations)
