"""The benchmark's workloads: one timed ``run_pipeline`` call per sample,
every output checked against the oracle after the clock stops.

fresh_zipf   ``run_pipeline(resume=False)`` over the whole corpus into an
             empty output: every row is parsed, shuffled and written.
             Measured on the process's first pipeline run, as
             ``python -m logparse_spark.main`` runs it.
resume_tail  ``run_pipeline(resume=True)`` into a completed run's output
             whose ledger lost the rows of the cold-tail sources (~3% of
             rows): ledger frontier, pending-only scan, dynamic
             overwrite into an existing tree, metric pass.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

from perfbench.corpus import (
    Corpus,
    check_ledger,
    check_manifests,
    check_metrics,
    check_rule_histogram,
    check_sinks,
    cold_tail,
    n_buckets_of,
    parquet_files,
    restore_tree,
    written_since,
)


@dataclass
class Sample:
    seconds: float
    rows: int
    metrics: dict
    problems: list[str] = field(default_factory=list)
    error: str | None = None
    check_s: float = 0.0  # untimed: restoring the input tree and checking the output
    sink_files: int = 0   # parquet files the run wrote or replaced in the sinks
    sink_dirs: int = 0    # the directories holding them

    @property
    def ok(self) -> bool:
        return self.error is None and not self.problems


def attempt(fn) -> Sample:
    """Run one pipeline sample; an exception is recorded as a failed
    sample, never raised, so ``ok_frac`` counts it."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a failed run is a measured outcome
        return Sample(math.nan, 0, {}, error=traceback.format_exc())


class FreshZipf:
    name = "fresh_zipf"
    resume = False
    min_samples = 1  # one run is longer than --seconds

    def __init__(self, session, corpus: Corpus, run_dir: str):
        self.session = session
        self.corpus = corpus
        self.out = os.path.join(run_dir, "out")

    def prepare(self) -> list[Sample]:
        """Untimed, checked warm-up runs: none, the first run is the
        measured one."""
        return []

    def layer_tree(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def _sample(self, out: str, prep, resume: bool, checks) -> Sample:
        """One timed ``run_pipeline`` call on ``out``.  ``prep`` readies
        the output tree and ``checks(metrics)`` returns the problems;
        both run off the clock, as does counting the sink files the run
        wrote."""
        from logparse_spark.main import run_pipeline

        t_prep = time.perf_counter()
        prep()
        before = parquet_files(os.path.join(out, "sinks"))
        os.sync()  # untimed: do not let the previous run's writeback leak in
        spark = self.session.spark
        seq = self.corpus.frame(spark)
        t0 = time.perf_counter()
        m = run_pipeline(spark, seq, out, resume=resume)
        t1 = time.perf_counter()
        written = written_since(before, os.path.join(out, "sinks"))
        return Sample(t1 - t0, int(m.get("routed_rows") or 0), m, checks(m),
                      check_s=time.perf_counter() - t1 + t0 - t_prep,
                      sink_files=len(written),
                      sink_dirs=len({os.path.dirname(p) for p in written}))

    def _fresh(self, out: str) -> Sample:
        exp = self.corpus.expected
        return self._sample(
            out, lambda: shutil.rmtree(out, ignore_errors=True), False,
            lambda m: (check_metrics(m, exp) + check_rule_histogram(out, exp)
                       + check_manifests(out, exp, n_buckets_of(out)) + check_sinks(out, exp)))

    def run_once(self) -> Sample:
        return self._fresh(self.out)


class ResumeTail(FreshZipf):
    name = "resume_tail"
    resume = True
    # a run is ~6 s of a ~60 s process; the median of three is what
    # keeps wall_s within its bound from seed to seed
    min_samples = 3

    def __init__(self, session, corpus: Corpus, run_dir: str):
        super().__init__(session, corpus, run_dir)
        self.base = os.path.join(run_dir, "completed_run")
        self.tail = cold_tail(corpus.expected)

    def prepare(self) -> list[Sample]:
        """Build the completed run every sample resumes from; that fresh
        run is the warm-up."""
        return [attempt(lambda: self._fresh(self.base))]

    def layer_tree(self, out: str) -> None:
        restore_tree(self.base, out, self.tail)

    def run_once(self) -> Sample:
        exp, out = self.corpus.expected, self.out
        redo = exp[exp["source"].isin(self.tail)]

        def checks(m):
            nb = n_buckets_of(out)
            return (check_metrics(m, redo) + check_rule_histogram(out, redo)
                    + check_manifests(out, redo, nb) + check_sinks(out, exp)
                    + check_ledger(out, exp, nb))

        return self._sample(out, lambda: self.layer_tree(out), True, checks)


WORKLOADS = {w.name: w for w in (FreshZipf, ResumeTail)}
