#!/usr/bin/env python
"""Per-round sf1 regression fence (round-6 verdict #4): the expensive
panel, promoted from a one-shot curve (SCALE.md round 6) to a
repeatable sidecar with the quiet-host best-of protocol and a 2x guard.

Protocol:
- data: ``tools_gen_scale_data.py`` tiles /root/testdata/sf0.1 to sf1
  (run it first; default location /tmp/scaledata/sf1);
- measurement: the ONE protocol bench.py uses too (``bench_common``:
  ``warmup``, ``run_order``, ``hygiene``, ``measure_protocol`` — the
  1.5x re-measure, the min-of-N for ``volatile`` rows of the baseline
  file, and the 10 s backoff, each trigger with the 0.2 s floor).
  Every attempt's (sec, loadavg-at-start) pair is recorded under
  ``attempts`` (round-8 verdict #6), so contention can be adjudicated
  from the artifact alone;
- STORM DEFERRAL (round-11 verdict #7): the 10 s backoff does not
  outlast a sustained hypervisor-steal storm.  Before the backoff the
  host probe is re-run; if it reads > STORM_PROBE_FACTOR x the anchor
  class RAW, the row is DEFERRED to one more protocol pass after the
  panel; rows still unmeasurable on a quiet host land under
  ``deferred_storm`` — a storm produces a deferred marker, never a
  committed violation row (pinned by tests/test_fence_guard.py);
- LOAD-TAIL RETRY (round-12 verdict #1): the probe sees hypervisor
  steal but NOT the harness's own load tail (r12: ``dedup_emb_cosine``
  31.9 s under loadavg 20.65 on a quiet probe, 12.7 s quiet), and no
  loadavg threshold discriminates.  ANY row still over the guard on a
  quiet-probe host is retried once at END OF RUN
  (``retried_end_of_run``), where the tail has drained — a real
  regression reproduces there; weather does not;
- verdict: ``BENCH_SF1_BASELINE.json`` holds the references (seeded
  from the round-6 SCALE.md curve; overwritten only deliberately).  A
  query > 2x its probe-normalized reference ON A QUIET HOST is a FENCE
  VIOLATION (``fence_row_outcome``, no floor);
- output: ``BENCH_sf1.json`` at the repo root.  ARTIFACT GUARD
  (round-11 verdict #1): a non-clean run may not replace a clean
  committed artifact — it lands in ``BENCH_sf1_VIOLATING.json`` for
  triage instead; SPARK_GRAFT_FENCE_FORCE=1 overrides after an explicit
  triage decision.

Panel policy (round-10, SCALE.md "sf1 fence panel policy"): the
default run covers the ACTIVE panel (``queries`` in the baseline
file); rows that measured <= 1.0x their anchor in 3 consecutive
committed fence runs live under ``retired`` and run only in the
quarterly FULL fence — ``--full`` merges them back in (every 4th
round; a retired row violating 2x there is reinstated).

Usage: python tools_bench_sf1.py [--full] [sf1_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

from recommendation_translation_spark.bench_common import (
    NEVER_REMEASURE,
    fence_exit_code,
    fence_row_outcome,
    fence_write_decision,
    host_is_stormy,
    host_probe as _host_probe,
    hygiene,
    measure_protocol,
    merged_timing,
    probe_factor,
    probe_factor_clamped,
    probe_factor_raw,
    run_order,
    warmup,
)

REPO = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--full"]
    full = "--full" in sys.argv[1:]
    sf_dir = args[0] if args else "/tmp/scaledata/sf1"
    if not os.path.isdir(sf_dir):
        print(f"missing {sf_dir}: run tools_gen_scale_data.py first",
              file=sys.stderr)
        return 1
    with open(os.path.join(REPO, "BENCH_SF1_BASELINE.json")) as fh:
        _b = json.load(fh)
    baseline = dict(_b["queries"])
    if full:
        baseline.update(_b.get("retired", {}))

    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from recommendation_translation_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench_sf1")
    # the SHARED bench warmup (bench_common, round-11): identical
    # context is required for the probe to be comparable — this tool's
    # old lighter warmup left CPU clocks low and the probe read ~1.3×
    # slower than bench.py's on the same machine, silently loosening
    # every normalized threshold
    warmup(spark, sf_dir)

    # same deterministic host probe bench.py records, from the SHARED
    # helper (round-10 ADVICE #3).  Since round-11 (verdict #3) the
    # probe also FEEDS the fence: thresholds are scaled by the clamped
    # probe factor vs the anchor class recorded in
    # BENCH_SF1_BASELINE.json, so a host step inflates neither the
    # re-measure count nor the violation list — both raw and
    # normalized ratios land in the sidecar.
    host_probe = _host_probe(spark)
    anchor_probe = _b.get("anchor_probe")
    anchor_factor = probe_factor(host_probe, anchor_probe)
    anchor_factor_raw = probe_factor_raw(host_probe, anchor_probe)

    qmap = entry_mod.queries()
    volatile = set(_b.get("volatile", []))
    timings: dict[str, float] = {}
    loadavg: dict[str, float] = {}
    attempts_log: dict[str, list[dict]] = {}
    outcomes: dict[str, str] = {}
    reruns: list[str] = []
    rerun_failures: dict[str, int] = {}
    deferred: list[str] = []
    retry: list[str] = []
    retried: list[str] = []
    deferred_storm: dict[str, float] = {}

    def run_row(name: str, ref: float) -> str:
        """One :func:`measure_protocol` pass for ``name``, merged into
        the run state (a later pass only improves the recorded timing —
        round-12 ADVICE #1: a failed end-of-run attempt must not
        clobber a valid earlier measurement).  Returns the row's
        merged :func:`fence_row_outcome` classification."""
        fn = qmap[name]
        nrows: dict[str, int] = {}

        def timed_run() -> float:
            hygiene(spark)
            t0 = time.perf_counter()
            nrows["n"] = fn(spark, sf_dir).count()
            return round(time.perf_counter() - t0, 2)

        res = measure_protocol(
            timed_run,
            lambda: host_is_stormy(_host_probe(spark), anchor_probe),
            ref,
            volatile=name in volatile,
            never_remeasure=name in NEVER_REMEASURE,
        )
        attempts_log.setdefault(name, []).extend(res["attempts"])
        ok_attempts = [a for a in res["attempts"] if a["sec"] > 0]
        merged = merged_timing(timings.get(name), res["sec"])
        if ok_attempts and merged == res["sec"]:
            loadavg[name] = min(ok_attempts, key=lambda a: a["sec"])["load"]
        timings[name] = merged
        if len(ok_attempts) > 1 and name not in reruns:
            reruns.append(name)
        if res["failures"]:
            rerun_failures[name] = rerun_failures.get(name, 0) + res[
                "failures"
            ]
            for msg in res["errors"]:
                print(f"# FAILED {name}: {msg}", file=sys.stderr)
        # classify on the MERGED best (an end-of-run pass may beat a
        # contaminated in-place one); the storm flag is this pass's —
        # fence_row_outcome is the single decision point (ADVICE #3)
        outcome = fence_row_outcome(
            timings[name], ref, res["outcome"] == "deferred"
        )
        outcomes[name] = outcome
        label = {
            "ok": "ok",
            "violation": "VIOLATION",
            "deferred": "DEFERRED (probe-confirmed storm)",
        }[outcome]
        print(
            f"# {name}: {timings[name]}s (ref {round(ref, 2)}s = anchor "
            f"{baseline[name]} x {anchor_factor}, rows={nrows.get('n')}, "
            f"load {loadavg.get(name)}, attempts "
            f"{len(attempts_log[name])}) {label}",
            file=sys.stderr,
        )
        return outcome

    for name in run_order(baseline):
        if name not in qmap:
            print(f"# panel query {name} missing from catalog", file=sys.stderr)
            timings[name] = -1.0
            outcomes[name] = "violation"
            continue
        ref = baseline[name] * anchor_factor
        outcome = run_row(name, ref)
        if outcome == "deferred":
            deferred.append(name)
        elif (
            outcome == "violation"
            and timings[name] > 0
            and name not in NEVER_REMEASURE
        ):
            # round-12 verdict #1: a quiet-PROBE violation can still be
            # the harness's own load tail (the probe sees hypervisor
            # steal, not local contention).  Retry once at end of run,
            # where the tail has had the rest of the panel to drain —
            # a real regression reproduces there.
            retry.append(name)

    # End-of-run pass: storm-deferred rows (the burst has had the whole
    # remaining panel to pass) and quiet-probe over-guard rows (the
    # load-tail retry).  One more full protocol run each; a row whose
    # host is stormy here lands under deferred_storm with its best
    # measurement — visible, excluded from the violation fence, never
    # silently dropped, and (round-12 ADVICE #2) still non-clean for
    # the artifact guard and the exit code.
    for name in deferred + [n for n in retry if n not in deferred]:
        ref = baseline[name] * anchor_factor
        if host_is_stormy(_host_probe(spark), anchor_probe):
            deferred_storm[name] = timings[name]
            outcomes[name] = "deferred"
            print(f"# {name}: host stormy at end of run — recorded "
                  f"as deferred_storm ({timings[name]}s), not a violation",
                  file=sys.stderr)
            continue
        if name in retry:
            retried.append(name)
        if run_row(name, ref) == "deferred":
            deferred_storm[name] = timings[name]
            print(f"# {name}: storm returned during end-of-run re-measure "
                  f"— recorded as deferred_storm ({timings[name]}s)",
                  file=sys.stderr)

    violations = sorted(
        n for n, o in outcomes.items() if o == "violation"
    )
    raw_violations = sorted(
        n
        for n, t in timings.items()
        if baseline.get(n) is not None and (t < 0 or t > 2.0 * baseline[n])
    )

    out = {
        "sf": 1.0,
        "schema_version": 4,
        "panel": "full" if full else "active",
        "sum_query_sec": round(sum(v for v in timings.values() if v > 0), 2),
        "queries": timings,
        "loadavg_1min": loadavg,
        "attempts": attempts_log,
        "host_probe": host_probe,
        "anchor_probe_factor": anchor_factor,
        "anchor_probe_factor_raw": anchor_factor_raw,
        "volatile": sorted(volatile & set(baseline)),
        "remeasured": sorted(reruns),
        "remeasure_failed": rerun_failures,
        "retried_end_of_run": sorted(retried),
        "deferred_storm": deferred_storm,
        "violations_2x": violations,
        "violations_2x_raw": raw_violations,
    }
    if probe_factor_clamped(anchor_factor, anchor_factor_raw):
        out["probe_factor_clamped"] = True
    committed = None
    try:
        with open(os.path.join(REPO, "BENCH_sf1.json")) as fh:
            committed = json.load(fh)
    except (OSError, ValueError):
        pass
    fname, refusal = fence_write_decision(
        out, committed,
        force=os.environ.get("SPARK_GRAFT_FENCE_FORCE") == "1",
    )
    if refusal:
        print(f"# ARTIFACT GUARD: {refusal}", file=sys.stderr)
        out["artifact_guard"] = refusal
    with open(os.path.join(REPO, fname), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps(out, separators=(",", ":")))
    # 0 clean / 2 violations / 3 storm-deferred-only (ADVICE #2: an
    # unproven run must not exit 0)
    return fence_exit_code(out)


if __name__ == "__main__":
    sys.exit(main())
