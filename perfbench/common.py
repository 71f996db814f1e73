"""State and helpers shared by the workloads."""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import kernels
from perfbench.inputs import CLASSES
from perfbench.tracing import PeakRss, Tracer


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Ctx:
    spark: object
    tr: Tracer
    rss: PeakRss
    work: str
    seed: int
    seconds: float
    traced: bool
    t_setup0: float
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)  # written to the trace file only
    _batch_rows: list | None = None

    def mark(self, name: str):
        """Records the time since process start of a set-up step."""
        self.info[f"t_{name}"] = time.perf_counter() - self.t_setup0

    def setup_done(self):
        """Marks the first timed operation: set-up ends here."""
        self.setup_s = time.perf_counter() - self.t_setup0

    def fail(self, what: str, detail: str = ""):
        self.failed += 1
        self.errors.append(f"{what}: {detail}" if detail else what)
        print(f"perfbench: FAILED {what} {detail}", file=sys.stderr, flush=True)

    def search_op(self, cls: str, q, op: int, search, kind: str = "wand"):
        """One closed-loop search: ``search(q)`` returns the DataFrame
        (plan), ``collect()`` runs it (exec). Spans are named
        ``<kind>.<cls>``; only kind "wand" feeds the latency metrics.
        Returns the rows, or None when the call raised."""
        self.attempted += 1
        try:
            with self.tr.span(f"{kind}.{cls}", op):
                with self.tr.span(f"{kind}.{cls}.plan", op):
                    df = search(q)
                with self.tr.span(f"{kind}.{cls}.exec", op):
                    return df.collect()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.fail(f"search {cls} op {op}", traceback.format_exc(limit=3))
            return None

    def batch_op(self, batch_search, timed: bool):
        """One batch search as one op; untimed (warm-up) runs are spans of
        kind "warm". Returns the rows sorted, or None when it raised; a
        result that differs from an earlier run of the same batch fails."""
        kind = "wand" if timed else "warm"
        self.attempted += 1
        try:
            with self.tr.span(f"{kind}.batch", self.attempted):
                with self.tr.span(f"{kind}.batch.plan", self.attempted):
                    df = batch_search()
                with self.tr.span(f"{kind}.batch.exec", self.attempted):
                    rows = sorted(map(tuple, df.collect()))
        except Exception:  # noqa: BLE001
            self.fail("batch search", traceback.format_exc(limit=3))
            return None
        if self._batch_rows is None:
            self._batch_rows = rows
        elif rows != self._batch_rows:
            self.fail("batch search", "repeated batch returned other rows")
        return rows

    # --------------------------------------------------------- metrics

    def query_metrics(self, n_batch: int):
        """End-to-end query metrics: the median single-query wall over
        every class, and the batch search's throughput."""
        walls = [w for c in CLASSES for w in self.tr.walls(f"wand.{c}")]
        self.e2e["query_p50_ms"] = median(walls) * 1e3
        self.e2e["batch_qps"] = n_batch / median(self.tr.walls("wand.batch"))
        self.info["query_samples"] = len(walls)

    def rewrite_pass(self, pool, rewrite_index):
        """Times ``wand_rewrite`` once per pool query, apart from the
        timed searches: search() rewrites the query itself, so timing the
        rewrite inside an op would run it (and the term-dictionary jobs of
        a multiterm query) twice."""
        from ferret_spark.wand import wand_rewrite

        for i, (cls, q) in enumerate(pool):
            with self.tr.span(f"rewrite.{cls}", i):
                wand_rewrite(rewrite_index, q)

    def query_layers(self):
        tr = self.tr
        for c in CLASSES:
            self.layer[f"wand.{c}.rewrite_ms"] = median(tr.walls(f"rewrite.{c}")) * 1e3
            for part in ("plan", "exec"):
                self.layer[f"wand.{c}.{part}_ms"] = median(tr.walls(f"wand.{c}.{part}")) * 1e3
            counts = [tr.subtree(s) for s in tr.named(f"wand.{c}")]
            self.layer[f"wand.{c}.jobs"] = median([j for j, _t, _f in counts])
            self.layer[f"wand.{c}.tasks"] = median([t for _j, t, _f in counts])
        for part in ("plan", "exec"):
            self.layer[f"wand.batch.{part}_ms"] = median(tr.walls(f"wand.batch.{part}")) * 1e3
        counts = [tr.subtree(s) for s in tr.named("wand.batch")]
        self.layer["wand.batch.jobs"] = median([j for j, _t, _f in counts])
        self.layer["wand.batch.tasks"] = median([t for _j, t, _f in counts])

    def spark_layers(self, n: int = 9):
        """Launch floor: the wall of a trivial one-task job."""
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).collect()
            walls.append(time.perf_counter() - t0)
        self.layer["spark.noop_job_ms"] = median(walls) * 1e3
        top = [
            s for s in self.tr.spans
            if s.parent is None and not s.name.startswith(("probe", "rewrite"))
        ]
        tot = [self.tr.subtree(s) for s in top]
        self.layer["spark.jobs"] = sum(j for j, _t, _f in tot)
        self.layer["spark.tasks"] = sum(t for _j, t, _f in tot)
        self.layer["spark.failed_tasks"] = sum(f for _j, _t, f in tot)

    def kernel_layers(self, pdf, field_config, seg_dir, pool):
        from ferret_spark.query import PhraseQuery, TermQuery

        self.layer["segments.invert_partition_docs_per_s"] = kernels.invert_docs_per_s(
            pdf, field_config
        )
        terms = [q.term for _c, q in pool if isinstance(q, TermQuery)]
        enc, dec = kernels.codec_mb_per_s(seg_dir, "content", terms)
        self.layer["codec.encode_mb_per_s"] = enc
        self.layer["codec.decode_mb_per_s"] = dec
        phrases = [q for _c, q in pool if isinstance(q, PhraseQuery)]
        self.layer["phrase_np.docs_per_s"] = kernels.phrase_docs_per_s(
            seg_dir, "content", phrases
        )

    def overhead_probe(self, pool, search):
        """Tracing overhead: the first query of each class, once untraced
        and once traced; the median of the paired differences is what
        tracing adds to the end-to-end time of one search op."""
        diffs = []
        for i, cls in enumerate(CLASSES):
            q = next(q for c, q in pool if c == cls)
            walls = {}
            for on in (False, True):
                self.tr.traced = on
                with self.tr.span(f"probe.{on}", i) as s:
                    self.search_op(cls, q, i, search, kind="probe")
                walls[on] = s.wall
                self.attempted -= 1  # probe ops are not workload ops
            diffs.append(walls[True] - walls[False])
        self.tr.traced = True
        self.layer["trace.overhead_ms"] = median(diffs) * 1e3
