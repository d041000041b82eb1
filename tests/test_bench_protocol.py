"""bench.py's row policy, driven through the shared
``bench_common.measure_protocol`` with canned timings (no Spark
session), plus the guards that keep one measurement protocol for both
catalog harnesses (bench.py and tools_bench_sf1.py)."""

from __future__ import annotations

import ast
import os

import bench
from recommendation_translation_spark.bench_common import (
    ANCHOR_PROBE,
    probe_factor_clamped,
    run_order,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _row(name, run_secs, ref, **kw):
    """Run ``bench.measure_row`` over a canned sequence of timings
    ('fail' raises); returns (result, sleeps)."""
    seq = list(run_secs)
    sleeps: list[float] = []

    def run_fn():
        v = seq.pop(0)
        if v == "fail":
            raise RuntimeError("boom")
        return v

    return bench.measure_row(name, run_fn, ref, sleep=sleeps.append, **kw), sleeps


def _secs(res):
    return [a["sec"] for a in res["attempts"]]


def test_row_without_prior_takes_exactly_best_of_2():
    res, sleeps = _row("rank_normalized", [1.0, 0.9, 0.8, 0.7], None)
    assert _secs(res) == [1.0, 0.9] and res["sec"] == 0.9
    assert not sleeps
    # a slow second attempt does not buy a third
    res, _ = _row("rank_normalized", [0.9, 5.0, 0.1], None)
    assert _secs(res) == [0.9, 5.0] and res["sec"] == 0.9


def test_ml_train_rmse_takes_one_attempt():
    for ref in (None, 1.0):
        res, sleeps = _row("ml_train_rmse", [9.0, 0.4, 0.4], ref)
        assert _secs(res) == [9.0] and res["sec"] == 9.0
        assert not sleeps


def test_bench_once_takes_one_attempt_for_every_row():
    for name, ref in (
        ("rank_normalized", None),
        ("rank_normalized", 1.0),
        ("corpus_token_budget", 1.0),
        ("ml_train_rmse", None),
    ):
        res, sleeps = _row(name, [5.0, 1.0, 1.0, 1.0], ref, once=True)
        assert _secs(res) == [5.0], name
        assert not sleeps


def test_floor_keeps_short_row_from_rerunning():
    # 0.25 s against a 0.15 s prior: over 1.5x (0.225) but under
    # 1.5x + 0.2 s (0.425), so it is not re-run
    res, sleeps = _row("rank_normalized", [0.25, 0.1], 0.15)
    assert _secs(res) == [0.25] and not sleeps


def test_row_over_trigger_reruns_then_backs_off():
    res, sleeps = _row("rank_normalized", [2.0, 1.5], 1.0)
    assert _secs(res) == [2.0, 1.5] and not sleeps
    res, sleeps = _row("rank_normalized", [5.0, 4.0, 1.1], 1.0)
    assert _secs(res) == [5.0, 4.0, 1.1] and sleeps == [10.0]
    assert res["sec"] == 1.1


def test_volatile_row_takes_up_to_three_attempts():
    res, _ = _row("corpus_token_budget", [2.0, 1.9, 1.8, 1.0], 1.0)
    assert _secs(res) == [2.0, 1.9, 1.8] and res["sec"] == 1.8
    res, _ = _row("corpus_token_budget", [1.0, 1.1, 1.0], 1.0)
    assert _secs(res) == [1.0, 1.1]


def test_failed_streaming_row_is_retried_once():
    res, _ = _row("events_stream_tumbling", ["fail", 1.0, 1.0], 1.0)
    assert _secs(res) == [-1.0, 1.0] and res["sec"] == 1.0
    assert res["failures"] == 1 and res["errors"] == ["boom"]
    res, _ = _row("events_stream_tumbling", ["fail", "fail", 1.0], 1.0)
    assert _secs(res) == [-1.0, -1.0] and res["sec"] == -1.0
    assert res["failures"] == 2
    # a non-streaming failure is recorded without a retry
    res, _ = _row("rank_normalized", ["fail", 1.0], 1.0)
    assert _secs(res) == [-1.0] and res["sec"] == -1.0


def test_best_map_never_merges_across_core_counts():
    prior = {
        "best": {"q": 1.0},
        "best_all_hosts": {"q": 1.0},
        "best_probe": dict(ANCHOR_PROBE),
        "cpus": 8,
    }
    best, best_all, merged = bench.best_maps({"q": 2.0}, prior, ANCHOR_PROBE, 32)
    assert not merged and best == {"q": 2.0}
    # the cross-host audit map still keeps the minimum
    assert best_all == {"q": 1.0}
    best, _, merged = bench.best_maps({"q": 2.0}, prior, ANCHOR_PROBE, 8)
    assert merged and best == {"q": 1.0}
    # a prior that predates the cpus key never merges
    no_cpus = {k: v for k, v in prior.items() if k != "cpus"}
    best, _, merged = bench.best_maps({"q": 2.0}, no_cpus, ANCHOR_PROBE, 8)
    assert not merged and best == {"q": 2.0}
    # ...and neither does a different probe class at the same core count
    slow = {k: v * 2 for k, v in ANCHOR_PROBE.items()}
    _, _, merged = bench.best_maps({"q": 2.0}, prior, slow, 8)
    assert not merged


def test_run_order_moves_ml_train_rmse_first_among_ml_rows():
    names = ["ml_score_topk", "zeta", "ml_train_rmse", "alpha", "ml_als_recs"]
    assert run_order(names) == [
        "alpha", "ml_train_rmse", "ml_als_recs", "ml_score_topk", "zeta",
    ]
    assert run_order(["b", "a"]) == ["a", "b"]


def test_probe_factor_clamped_warns(capsys):
    assert not probe_factor_clamped(1.2, 1.2)
    assert not probe_factor_clamped(1.0, None)
    assert capsys.readouterr().err == ""
    assert probe_factor_clamped(3.0, 3.4)
    assert capsys.readouterr().err.startswith("# WARNING")


def _protocol_pieces(path: str) -> set[str]:
    """Which pieces of the measurement protocol a source file spells out
    itself: a ``clearCache`` call, a JVM ``System.gc``, and a reorder of
    ``ml_train_rmse`` (a sort or list edit naming it)."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            if node.attr == "clearCache":
                found.add("clearCache")
            if node.attr == "gc" and (
                getattr(node.value, "attr", None) == "System"
                or getattr(node.value, "id", None) == "System"
            ):
                found.add("System.gc")
        if isinstance(node, ast.Call) and (
            getattr(node.func, "id", None) == "sorted"
            or getattr(node.func, "attr", None)
            in {"sort", "insert", "remove", "index", "pop"}
        ) and any(
            isinstance(c, ast.Constant) and c.value == "ml_train_rmse"
            for c in ast.walk(node)
        ):
            found.add("ml_train_rmse reorder")
    return found


def test_measurement_protocol_lives_only_in_bench_common():
    pkg = os.path.join(REPO, "recommendation_translation_spark")
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "tools_bench_sf1.py")]
    for root, _, names in os.walk(pkg):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    common = os.path.join(pkg, "bench_common.py")
    offenders = {
        os.path.relpath(f, REPO): pieces
        for f in files
        if f != common and (pieces := _protocol_pieces(f))
    }
    assert not offenders, f"protocol duplicated outside bench_common: {offenders}"
    assert _protocol_pieces(common) == {
        "clearCache", "System.gc", "ml_train_rmse reorder",
    }
