"""Workloads: set-up, one job, and the job's correctness check.

A workload's ``generate`` writes its inputs from the seed and keeps
the ground truth; ``prepare`` builds what a job needs besides its
inputs (the artifacts that re-scoring reads); ``job`` runs one job of
the program on those files into a fresh output directory and returns
what the check and the metrics need.  Only ``job`` runs inside the
timed region; its check runs after the clock stops.
"""

from __future__ import annotations

import bz2
import csv
import glob
import logging
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import gen

__all__ = ["JobResult", "WORKLOADS", "LogCapture", "dir_bytes", "read_predictions"]

PKG = "recommendation_translation_spark"

#: a site's held-out RMSE must stay below this share of the RMSE of
#: predicting the mean label (gen.TranslateTruth.baseline_rmse).
#: Pageviews share a per-item popularity across sites, so the other
#: sites' ranks predict the target's; measured ratios sit at 0.56-0.69.
#: A model that learns nothing scores 1.0.
RMSE_MAX_RATIO = 0.8


@dataclass
class JobResult:
    wall_s: float
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    rmse: dict[str, float] = field(default_factory=dict)
    artifact_bytes: int = 0


class LogCapture(logging.Handler):
    """Collects the engine's per-site log records: ``site %s rmse=%f``
    from ``cli.run`` and the per-site failure warnings of the train,
    score and model-load paths."""

    def __init__(self):
        super().__init__(logging.INFO)
        self.rmse: dict[str, float] = {}
        self.failed: dict[str, str] = {}

    def emit(self, record: logging.LogRecord) -> None:
        msg, args = record.msg, record.args or ()
        if msg == "site %s rmse=%.6f":
            self.rmse[args[0]] = float(args[1])
        elif record.levelno >= logging.WARNING and "site %s" in msg and args:
            self.failed.setdefault(args[0], record.getMessage())

    def __enter__(self):
        logger = logging.getLogger(PKG)
        self._level = logger.level
        logger.setLevel(logging.INFO)
        logger.addHandler(self)
        return self

    def __exit__(self, *exc):
        logger = logging.getLogger(PKG)
        logger.removeHandler(self)
        logger.setLevel(self._level)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def read_predictions(path: str) -> dict[tuple[str, str], float]:
    """(id, site) -> score from the single bzip2 CSV part file."""
    parts = glob.glob(os.path.join(path, "part-*.csv.bz2"))
    if len(parts) != 1:
        raise AssertionError(f"expected one predictions part file, found {len(parts)}")
    out: dict[tuple[str, str], float] = {}
    with bz2.open(parts[0], "rt", newline="") as f:
        reader = csv.reader(f)
        header = next(reader)
        for row in reader:
            for site, cell in zip(header[1:], row[1:]):
                if cell != "":
                    out[(row[0], site)] = float(cell)
    return out


# -- translate ------------------------------------------------------------

class Translate:
    """A full four-stage ``cli.run`` job from raw inputs, or, with
    ``rescore``, a ``--score-items`` job over the feature data and
    models a full run built during set-up."""

    #: timed jobs a run makes at least; one job is ~15 s, and a second
    #: does not fit the run budget
    min_jobs = 1

    def __init__(self, n_sites: int, n_ids: int, n_targets: int, split: bool,
                 rescore: bool = False):
        self.n_sites, self.n_ids, self.n_targets = n_sites, n_ids, n_targets
        self.split, self.rescore = split, rescore

    def generate(self, input_dir: str, seed: int) -> None:
        self.work = os.path.dirname(input_dir)
        self.inputs, self.truth = gen.gen_translate(
            input_dir, seed, self.n_sites, self.n_ids, self.n_targets, self.split)
        self.want = {(q, t) for t, ids in self.truth.missing.items() for q in ids}
        # input rows: (id, site) pairs, or feature-matrix rows when re-scoring
        self.rows = (len({q for q, _ in self.truth.present}) if self.rescore
                     else self.truth.input_pairs)
        self.n_jobs = 0

    def prepare(self, spark) -> None:
        if not self.rescore:
            return
        from recommendation_translation_spark.cli import Params, run

        with LogCapture() as cap:
            full = run(spark, Params(
                parse_raw_data=True, extract_features=True, build_models=True,
                score_items=True, output_dir=os.path.join(self.work, "reference"),
                target_wikis=self.truth.targets, **self.inputs))
        if cap.failed or set(cap.rmse) != set(self.truth.targets):
            raise RuntimeError(f"set-up build of the re-scored models failed: {cap.failed}")
        self.setup_rmse = cap.rmse
        self.reference = read_predictions(full["predictions"])
        self.feature_data, self.model_dir = full["feature_data"], full["model_dir"]

    def job(self, spark) -> JobResult:
        from recommendation_translation_spark.cli import Params, run

        self.n_jobs += 1
        out = os.path.join(self.work, "out", str(self.n_jobs))
        if self.rescore:
            params = Params(score_items=True, feature_data=self.feature_data,
                            model_dir=self.model_dir, output_dir=out,
                            target_wikis=self.truth.targets)
        else:
            params = Params(parse_raw_data=True, extract_features=True,
                            build_models=True, score_items=True, output_dir=out,
                            target_wikis=self.truth.targets, **self.inputs)
        targets = self.truth.targets
        with LogCapture() as cap:
            t0 = time.perf_counter()
            try:
                arts = run(spark, params)
            except Exception as exc:  # the job failed as a whole
                arts, raised = None, f"job raised {type(exc).__name__}: {exc}"
            wall = time.perf_counter() - t0
        res = JobResult(wall, attempted=len(targets), failed=len(targets))
        if arts is None:
            res.errors.append(raised)
            return res
        res.artifact_bytes = dir_bytes(out)
        res.rmse = dict(self.setup_rmse) if self.rescore else cap.rmse
        failed_sites = set(cap.failed) | (set(targets) - set(res.rmse))
        res.errors = [f"site {s} failed: {cap.failed.get(s, 'no rmse logged')}"
                      for s in sorted(failed_sites)]
        check = self._check(arts["predictions"], res.rmse)
        res.errors += check
        # every site of a job that failed its check counts as failed
        res.failed = len(targets) if check else len(failed_sites)
        shutil.rmtree(out, ignore_errors=True)
        return res

    def _check(self, predictions: str, rmse: dict[str, float]) -> list[str]:
        try:
            pred = read_predictions(predictions)
        except (OSError, AssertionError, ValueError) as exc:
            return [f"predictions unreadable: {exc}"]
        errors = []
        got, want = set(pred), self.want
        if got != want:
            errors.append(f"scored pairs differ from the missing pairs: "
                          f"{len(got - want)} extra, {len(want - got)} absent")
        bad = [k for k, v in pred.items() if not (math.isfinite(v) and 0.0 <= v <= 1.0)]
        if bad:
            errors.append(f"{len(bad)} scores not finite in [0, 1], e.g. {bad[0]}")
        base = self.truth.baseline_rmse
        errors += [f"site {site} rmse {v:.4f} not below {RMSE_MAX_RATIO} x the "
                   f"mean-predicting baseline {base[site]:.4f}"
                   for site, v in sorted(rmse.items())
                   if not (math.isfinite(v) and v < RMSE_MAX_RATIO * base[site])]
        if self.rescore and pred != self.reference:
            diff = sum(1 for k in want if pred.get(k) != self.reference.get(k))
            errors.append(f"{diff} predictions differ from the set-up run's")
        return errors


# -- curate ---------------------------------------------------------------

DOC_SCHEMA = "doc_id LONG, text STRING, source STRING, lang STRING"


class Curate:
    """``curate_corpus`` over the generated JSONL corpus, read through
    ``sources.readers.read_jsonl``.

    The job passes an explicit training mix, as a real curation run
    does: the default ``mix_weights=None`` fails in
    ``interleave_sources`` (see NOTES.md, known defects)."""

    #: a job is ~80 short Spark jobs, latency-bound and as noisy as the
    #: host, and the second and third jobs of a process are still ~10%
    #: apart; the median of two is steadier than one job
    min_jobs = 2

    def __init__(self, n_docs: int, n_sources: int = 20):
        self.n_docs, self.n_sources = n_docs, n_sources
        # a few up-weighted sources; the rest take the default weight
        self.mix = {"src00": 4, "src01": 2, "src02": 2}

    def generate(self, input_dir: str, seed: int) -> None:
        self.work = os.path.dirname(input_dir)
        self.path, self.truth = gen.gen_curate(input_dir, seed, self.n_docs, self.n_sources)
        self.rows = self.truth.input
        self.n_jobs = 0
        self.first_stats: dict[str, int] | None = None

    def prepare(self, spark) -> None:
        pass

    def job(self, spark) -> JobResult:
        from recommendation_translation_spark.pipeline import curate
        from recommendation_translation_spark.sources import readers

        self.n_jobs += 1
        out = os.path.join(self.work, "out", str(self.n_jobs))
        t0 = time.perf_counter()
        try:
            docs = readers.read_jsonl(spark, self.path, schema=DOC_SCHEMA)
            stats = curate.curate_corpus(
                spark, docs, out, blocklist=[gen.BLOCKED_TERM],
                per_source=self.n_docs // (self.n_sources + 5),
                mix_weights=self.mix, seq_len=256, packs_per_shard=64,
                min_words=gen.CURATE_MIN_WORDS)
        except Exception as exc:  # the job failed as a whole
            wall = time.perf_counter() - t0
            return JobResult(wall, 1, 1,
                             errors=[f"job raised {type(exc).__name__}: {exc}"])
        wall = time.perf_counter() - t0
        res = JobResult(wall, 1, 0, artifact_bytes=dir_bytes(out))
        res.errors = self._check(out, stats)
        res.failed = 1 if res.errors else 0
        shutil.rmtree(out, ignore_errors=True)
        return res

    def _check(self, out: str, stats: dict[str, int]) -> list[str]:
        import pyarrow.parquet as pq

        errors = []
        for key in ("input", "after_exact_dedup"):
            if stats.get(key) != getattr(self.truth, key):
                errors.append(f"{key} = {stats.get(key)}, expected {getattr(self.truth, key)}")
        files = glob.glob(os.path.join(out, "manifest.parquet", "*.parquet"))
        n_manifest = sum(pq.read_metadata(f).num_rows for f in files)
        if n_manifest != stats.get("kept"):
            errors.append(f"manifest has {n_manifest} rows, kept = {stats.get('kept')}")
        if self.first_stats is None:
            self.first_stats = dict(stats)
        elif stats != self.first_stats:
            errors.append(f"stats differ across runs: {stats} vs {self.first_stats}")
        return errors


WIDE = dict(n_sites=120, n_ids=600, n_targets=4, split=False)

WORKLOADS = {
    "translate_wide": lambda: Translate(**WIDE),
    "translate_tall": lambda: Translate(n_sites=8, n_ids=12000, n_targets=8, split=True),
    "translate_rescore": lambda: Translate(**WIDE, rescore=True),
    "curate_mix": lambda: Curate(n_docs=600),
}
