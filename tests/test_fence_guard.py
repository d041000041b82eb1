"""Round-11 verdict #1/#7: the sf1 fence's storm-deferral and
artifact-guard decision logic, pinned with FAKED probes (pure Python,
no Spark session) — a storm run must produce a deferred marker, never
a committed violation row, and a violating run must never silently
replace a clean committed fence artifact."""

from recommendation_translation_spark.bench_common import (
    ANCHOR_PROBE,
    STORM_PROBE_FACTOR,
    fence_exit_code,
    fence_row_outcome,
    fence_run_is_clean,
    fence_write_decision,
    host_is_stormy,
    merged_timing,
)


def _probe(factor: float) -> dict[str, float]:
    return {k: v * factor for k, v in ANCHOR_PROBE.items()}


def test_host_is_stormy_uses_unclamped_ratio():
    # the normalization clamp saturates at 1.5; the storm detector must
    # see the full excursion (a 4x steal reads 4x, not 1.5x)
    assert host_is_stormy(_probe(4.0))
    assert host_is_stormy(_probe(STORM_PROBE_FACTOR + 0.01))
    assert not host_is_stormy(_probe(STORM_PROBE_FACTOR - 0.01))
    assert not host_is_stormy(_probe(1.0))
    assert not host_is_stormy(_probe(0.7))


def test_host_is_stormy_degrades_to_false_on_bad_probe():
    # a FAILED probe must never block a measurement — only a MEASURED
    # storm may defer a row
    assert not host_is_stormy(None)
    assert not host_is_stormy({})
    assert not host_is_stormy({"md5_2m_sec": "nan-ish"})
    assert not host_is_stormy({"md5_2m_sec": -1.0, "regex_200k_sec": -1.0})
    assert not host_is_stormy(_probe(9.9), anchor={})


def test_fence_row_outcome_storm_never_records_a_violation():
    ref = 10.0
    # within guard: ok regardless of weather
    assert fence_row_outcome(19.9, ref, stormy=False) == "ok"
    assert fence_row_outcome(19.9, ref, stormy=True) == "ok"
    # over guard: violation only on a quiet host
    assert fence_row_outcome(20.1, ref, stormy=False) == "violation"
    assert fence_row_outcome(20.1, ref, stormy=True) == "deferred"
    assert fence_row_outcome(80.0, ref, stormy=True) == "deferred"
    # a failed measurement is code, not weather — always a violation
    assert fence_row_outcome(-1.0, ref, stormy=True) == "violation"
    assert fence_row_outcome(-1.0, ref, stormy=False) == "violation"


def test_write_decision_refuses_to_overwrite_clean_artifact():
    violating = {"violations_2x": ["part_pagerank"], "panel": "active"}
    clean_committed = {"violations_2x": [], "panel": "active"}
    fname, reason = fence_write_decision(violating, clean_committed)
    assert fname == "BENCH_sf1_VIOLATING.json"
    assert reason and "part_pagerank" in reason


def test_write_decision_allows_clean_and_forced_and_unguarded_writes():
    clean_run = {"violations_2x": [], "panel": "active"}
    violating = {"violations_2x": ["x"], "panel": "active"}
    clean_committed = {"violations_2x": []}
    dirty_committed = {"violations_2x": ["y"]}
    # clean run always writes the real artifact
    assert fence_write_decision(clean_run, clean_committed) == (
        "BENCH_sf1.json", None)
    assert fence_write_decision(clean_run, None) == ("BENCH_sf1.json", None)
    # violating over violating: no clean state destroyed
    assert fence_write_decision(violating, dirty_committed) == (
        "BENCH_sf1.json", None)
    # no committed artifact at all: nothing to protect
    assert fence_write_decision(violating, None) == ("BENCH_sf1.json", None)
    # explicit human triage decision overrides
    assert fence_write_decision(violating, clean_committed, force=True) == (
        "BENCH_sf1.json", None)


def test_write_decision_treats_storm_deferred_as_non_clean():
    # round-12 ADVICE #2: a run whose host stayed stormy end-to-end has
    # empty violations but non-empty deferred_storm — it proved nothing
    # about those rows and must not replace a clean committed artifact
    all_deferred = {"violations_2x": [], "deferred_storm": {"x": 40.0}}
    clean_committed = {"violations_2x": [], "deferred_storm": {}}
    fname, reason = fence_write_decision(all_deferred, clean_committed)
    assert fname == "BENCH_sf1_VIOLATING.json"
    assert reason and "storm-deferred" in reason
    # ...but it may replace an artifact that was itself non-clean
    assert fence_write_decision(
        all_deferred, {"violations_2x": ["y"]}
    ) == ("BENCH_sf1.json", None)
    assert not fence_run_is_clean(all_deferred)
    assert fence_run_is_clean(clean_committed)


def test_fence_exit_code_distinguishes_storm_deferral():
    assert fence_exit_code({"violations_2x": [], "deferred_storm": {}}) == 0
    assert fence_exit_code({"violations_2x": ["q"]}) == 2
    # violations dominate: a run with both is a failure, not weather
    assert fence_exit_code(
        {"violations_2x": ["q"], "deferred_storm": {"x": 1.0}}
    ) == 2
    assert fence_exit_code(
        {"violations_2x": [], "deferred_storm": {"x": 1.0}}
    ) == 3


def test_merged_timing_never_clobbers_valid_prior():
    # round-12 ADVICE #1: a failed end-of-run re-measure (-1) must keep
    # the valid storm-period measurement recorded earlier
    assert merged_timing(31.9, -1.0) == 31.9
    assert merged_timing(None, -1.0) == -1.0
    assert merged_timing(-1.0, -1.0) == -1.0
    # a valid later pass improves or replaces a failed/worse prior
    assert merged_timing(31.9, 12.7) == 12.7
    assert merged_timing(12.7, 31.9) == 12.7
    assert merged_timing(-1.0, 12.7) == 12.7
    assert merged_timing(None, 12.7) == 12.7


def _protocol(run_secs, ref, *, stormy=lambda: False, **kw):
    """Drive the shared bench_common.measure_protocol (the protocol both
    bench.py and tools_bench_sf1.py time with) with a canned sequence of
    timings ('fail' raises) and a no-op sleep; returns (result, log)."""
    from recommendation_translation_spark.bench_common import measure_protocol

    seq = iter(run_secs)
    sleeps: list[float] = []

    def run_fn():
        v = next(seq)
        if v == "fail":
            raise RuntimeError("boom")
        return v

    res = measure_protocol(
        run_fn,
        stormy,
        ref,
        sleep=sleeps.append,
        getload=lambda: 7.5,
        **kw,
    )
    return res, sleeps


def test_measure_protocol_single_clean_attempt():
    res, sleeps = _protocol([4.0], ref=10.0)
    assert res["sec"] == 4.0 and res["outcome"] == "ok"
    assert len(res["attempts"]) == 1 and not sleeps
    assert res["attempts"][0] == {"sec": 4.0, "load": 7.5}


def test_measure_protocol_volatile_takes_min_of_three():
    # round-12 verdict #1: a volatile row over the guard on attempt 1
    # (the load tail) must not record that attempt as its timing — the
    # unconditional min-of-3 finds the quiet number without any backoff
    res, sleeps = _protocol([31.9, 16.0, 12.7], ref=10.0, volatile=True)
    assert res["sec"] == 12.7 and res["outcome"] == "ok"
    assert len(res["attempts"]) == 3 and not sleeps
    # every attempt (including the contaminated one) is visible
    assert [a["sec"] for a in res["attempts"]] == [31.9, 16.0, 12.7]
    # once under the 1.5x trigger no later attempt can change the
    # verdict, so the third is skipped (fence time, not correctness)
    res, _ = _protocol([31.9, 13.0], ref=10.0, volatile=True)
    assert res["sec"] == 13.0 and res["outcome"] == "ok"
    assert len(res["attempts"]) == 2


def test_measure_protocol_volatile_early_stop_when_provably_clean():
    # under the 1.5x re-measure trigger with 2 attempts, a third cannot
    # change the verdict — don't burn a full sf1 run on it
    res, _ = _protocol([9.0, 8.5], ref=10.0, volatile=True)
    assert res["sec"] == 8.5 and len(res["attempts"]) == 2


def test_measure_protocol_quiet_violation_uses_backoff_then_flags():
    # non-volatile over-guard on a quiet host: immediate re-run, then
    # the 10s-backoff third attempt, then a violation that reproduces
    res, sleeps = _protocol([25.0, 24.0, 23.0], ref=10.0)
    assert res["outcome"] == "violation" and res["sec"] == 23.0
    assert sleeps == [10.0] and len(res["attempts"]) == 3


def test_measure_protocol_storm_defers_without_burning_backoff():
    # still over guard + probe reads a storm: outcome comes from
    # fence_row_outcome(stormy=True) — deferred, no sleep, no 3rd run
    res, sleeps = _protocol([25.0, 24.0], ref=10.0, stormy=lambda: True)
    assert res["outcome"] == "deferred" and res["sec"] == 24.0
    assert not sleeps and len(res["attempts"]) == 2


def test_measure_protocol_never_remeasure_single_attempt():
    res, sleeps = _protocol([25.0], ref=10.0, never_remeasure=True)
    assert res["outcome"] == "violation" and len(res["attempts"]) == 1
    assert not sleeps


def test_measure_protocol_failures_are_recorded_not_fatal():
    res, _ = _protocol(["fail"], ref=10.0, never_remeasure=True)
    assert res["sec"] == -1.0 and res["outcome"] == "violation"
    assert res["failures"] == 1 and res["errors"] == ["boom"]
    assert res["attempts"] == [{"sec": -1.0, "load": 7.5}]
    # a failed attempt inside the volatile min-of-3 doesn't stop it —
    # the protocol keeps going until three VALID attempts exist
    res, _ = _protocol([31.0, "fail", 16.0, 12.0], ref=10.0, volatile=True)
    assert res["sec"] == 12.0 and res["outcome"] == "ok"
    assert res["failures"] == 1 and len(res["attempts"]) == 4


def test_gumbel_noise_matches_reference_formula(spark):
    # the resample op's Gumbel noise must be exactly the documented
    # pure function of doc_id — pin the Spark expression against a
    # stdlib reference so a refactor cannot silently change the draw
    # (the DuckDB oracle replays the same formula)
    import hashlib
    import math

    from pyspark.sql import functions as F

    from recommendation_translation_spark.operators.text import (
        cross_engine_hash,
    )

    ids = [0, 1, 7, 123456789, 2**40]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    u = (
        cross_engine_hash(F.col("doc_id").cast("string"), seed="gumbel")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", F.round(-F.log(-F.log(u)), 6).alias("g")
        ).collect()
    }
    for i in ids:
        h = int(hashlib.md5(f"gumbel:{i}".encode()).hexdigest()[:8], 16)
        uu = (h + 0.5) / 2**32
        assert got[i] == round(-math.log(-math.log(uu)), 6), i


def test_measure_protocol_volatile_bounds_total_attempts():
    # a permanently-failing volatile row must terminate (bounded
    # attempts), and still classify as a violation
    res, _ = _protocol(["fail"] * 10, ref=10.0, volatile=True)
    assert res["sec"] == -1.0 and res["outcome"] == "violation"
    assert len(res["attempts"]) <= 5
