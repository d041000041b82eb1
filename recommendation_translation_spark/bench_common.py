"""Shared benchmarking helpers for bench.py and tools_bench_sf1.py.

Single source of truth for the ONE measurement protocol both harnesses
time queries with: :func:`run_order` fixes the row order,
:func:`hygiene` resets session state before every timed attempt, and
:func:`measure_protocol` decides how many attempts a row gets (the
1.5x re-measure, the volatile min-of-N and the 10 s backoff, each
trigger carrying the ``REMEASURE_FLOOR_SEC`` floor).  Each harness only
describes its rows' policy to it; the fence's verdict
(:func:`fence_row_outcome`) is separate and carries no floor.

Also the single source of truth for the shared warmup, the
deterministic HOST PROBE (a data-independent CPU fingerprint: pure-JVM
md5 and regex throughput) and the probe-based cross-host normalization
(round-11 verdict #3): anchors are wall-clock numbers from one machine
class, so ratios divide by the probe factor instead of adjudicating
host changes in prose.
"""

from __future__ import annotations

import gc
import os
import sys
import time

from pyspark.sql import SparkSession, functions as F


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """The SHARED untimed warmup both harnesses run before measuring:
    JVM/codegen spin-up, the OS page-cache read of the input files, the
    dominant plan shapes (hash agg, window, explode+agg, shuffle join
    — whole-stage-codegen compiles per shape), the Python worker
    daemon, and the Arrow driver-collection path.  Shared for two
    reasons: the first queries measured would otherwise absorb these
    one-time costs, and the HOST PROBE is context-sensitive — a probe
    taken after a light warmup reads ~1.3× slower than after this full
    block on the same machine (sustained all-core load holds CPU
    clocks up), so normalization only works if every harness measures
    the probe in the identical context."""
    from pyspark.sql import Window

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).count()
    li.limit(50_000).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("l_orderkey")
        ),
    ).count()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(200)
    docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w")).groupBy(
        "w"
    ).count().count()
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li.limit(50_000).join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    spark.range(1_000).mapInPandas(lambda it: it, "id long").count()
    spark.range(10_000).toPandas()
    # pre-warm the shared collapse dial's one-time duplication probe
    # (round-12 verdict #5): it is memoized per corpus, so measuring it
    # here keeps the one small approx_count_distinct job out of the
    # first timed collapse-consumer row at sf1+
    from .sources.readers import distinct_text_fraction

    distinct_text_fraction(spark, sf_dir)
    # r13: streaming is a dominant shape too (12 catalog rows) and the
    # engine's one-time costs — microbatch planner classes, state-store
    # provider init, the symmetric-hash stream-stream join codegen —
    # otherwise land on whichever streaming row the loop times first
    # (measured ~1.8 s on the first drain at sf0.1).  Two tiny drains
    # over the 25-row nation table warm a stateful aggregation and a
    # watermarked stream-stream join; both sink tables are dropped.
    from .streaming.events_stream import (
        drop_memory_sink_tables,
        run_stream_to_memory,
    )

    nation_schema = spark.read.parquet(
        os.path.join(sf_dir, "nation.parquet")
    ).schema
    tiny = (
        spark.readStream.schema(nation_schema)
        .option("pathGlobFilter", "nation.parquet").parquet(sf_dir)
    )
    run_stream_to_memory(
        tiny.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))
    ).count()
    ts = F.lit("2020-01-01 00:00:00").cast("timestamp")
    a = tiny.select("n_nationkey", ts.alias("ts")).withWatermark("ts", "1 hour")
    b = tiny.select(
        F.col("n_nationkey").alias("k2"), ts.alias("ts2")
    ).withWatermark("ts2", "1 hour")
    run_stream_to_memory(
        a.join(
            b,
            (F.col("n_nationkey") == F.col("k2"))
            & (F.col("ts2") >= F.col("ts") - F.expr("interval 30 minutes"))
            & (F.col("ts2") <= F.col("ts")),
        ),
        output_mode="append",
    ).count()
    drop_memory_sink_tables(spark)
    # r13: MLlib is a dominant shape as well (8+ catalog rows) and its
    # one-time costs — optimizer/aggregator class loading, the
    # treeAggregate codegen — measured ~8 s on whichever ML row the
    # loop times first.  One 2-iteration LogisticRegression fit on 200
    # synthetic rows absorbs them (~4 s untimed).
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    _tiny_ml = VectorAssembler(
        inputCols=["x"], outputCol="features"
    ).transform(
        spark.range(200).select(
            F.col("id").cast("double").alias("x"),
            (F.col("id") % 2).cast("double").alias("label"),
        )
    )
    LogisticRegression(maxIter=2, labelCol="label").fit(_tiny_ml)


#: Queries whose cost is a Python-side memo (the ``_ML_CACHE`` model
#: store) are never re-measured: a second run is warm through a
#: mechanism :func:`hygiene` cannot reach, so a min over attempts would
#: hide the one-time training cost the row exists to measure (the cold
#: BASELINE.md anchor for ml_train_rmse is ~9 s; the warm min was
#: recording 0.36 s).
NEVER_REMEASURE = frozenset({"ml_train_rmse"})

#: Unconditional attempt count for ``volatile`` rows (round-12
#: verdict's "unconditional min-of-3"): no single load-contaminated
#: attempt can set a volatile row's timing or verdict.
VOLATILE_ATTEMPTS = 3

#: Absolute floor (seconds) added to the protocol's 1.5x re-measure and
#: 2x backoff TRIGGERS, so sub-second noise on a short row never fires
#: them.  Never part of a verdict: :func:`fence_row_outcome` stays at 2x.
REMEASURE_FLOOR_SEC = 0.2


def run_order(names) -> list[str]:
    """Row order for both harnesses: sorted, NOT catalog order (the
    ``queries()`` dict rotates for the driver's window; timings compare
    run-over-run only if every row keeps its position), except that
    ``ml_train_rmse`` runs before the other ``ml_*`` rows so the shared
    model memo's training cost lands on the training row.  ``"ml_"``
    sorts right before every ``ml_*`` name."""
    return sorted(names, key=lambda n: "ml_" if n == "ml_train_rmse" else n)


def hygiene(spark: SparkSession) -> None:
    """Session reset before EVERY timed attempt of either harness:
    clearCache drops operator-internal cached frames; memory-sink
    tables of earlier streaming drains (temp views clearCache does not
    touch) are dropped; a Python GC frees dead py4j handles, then a JVM
    GC lets the ContextCleaner free localCheckpoint blocks (r13:
    mid-loop rows measured 2-5x their isolated cost from that
    accumulation).  Referenced state (the ml model memo) survives."""
    from .streaming.events_stream import drop_memory_sink_tables

    spark.catalog.clearCache()
    drop_memory_sink_tables(spark)
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    except Exception:  # noqa: BLE001 — hygiene only, never fail a run
        pass


def measure_protocol(
    run_fn,
    stormy_fn,
    ref: float,
    *,
    volatile: bool = False,
    never_remeasure: bool = False,
    sleep=time.sleep,
    getload=None,
) -> dict:
    """One measurement pass for a row; pure orchestration, no Spark.
    ``run_fn()`` runs :func:`hygiene` + one timed execution and returns
    the seconds to record (raises on failure); ``stormy_fn()`` is the
    storm check; ``ref`` is the probe-normalized reference (``math.inf``
    for none).  One attempt always; ``never_remeasure`` rows stop there.
    VOLATILE rows take attempts until ``VOLATILE_ATTEMPTS`` succeed,
    stopping once two exist and the best is under the re-measure
    trigger (1.5 x ref + floor); other rows re-run once when over it.
    A row still over the backoff trigger (2 x ref + floor) gets the
    storm check, then ONE more attempt after a 10 s backoff.  Returns
    ``{"sec", "attempts", "outcome", "failures", "errors"}``; each
    attempt records (sec, loadavg-at-start) and ``outcome`` comes from
    :func:`fence_row_outcome`."""
    if getload is None:
        getload = lambda: os.getloadavg()[0]  # noqa: E731
    attempts: list[dict] = []
    errors: list[str] = []
    remeasure_at = 1.5 * ref + REMEASURE_FLOOR_SEC
    backoff_at = 2.0 * ref + REMEASURE_FLOOR_SEC

    def one_attempt() -> None:
        la = round(getload(), 2)
        try:
            t = run_fn()
        except Exception as exc:  # noqa: BLE001 — a row must never kill the run
            attempts.append({"sec": -1.0, "load": la})
            errors.append(" ".join(str(exc).split())[:200])
            return
        attempts.append({"sec": t, "load": la})

    def valid() -> list[float]:
        return [a["sec"] for a in attempts if a["sec"] > 0]

    def best() -> float | None:
        v = valid()
        return min(v) if v else None

    one_attempt()
    stormy = False
    if best() is not None and not never_remeasure:
        if volatile:
            # total-attempt bound: a permanently-failing row must not
            # spin forever chasing VOLATILE_ATTEMPTS valid timings
            while (
                len(valid()) < VOLATILE_ATTEMPTS
                and len(attempts) < VOLATILE_ATTEMPTS + 2
            ):
                if len(attempts) >= 2 and best() <= remeasure_at:
                    break
                one_attempt()
        elif best() > remeasure_at:
            one_attempt()
        if best() > backoff_at:
            if stormy_fn():
                stormy = True
            else:
                sleep(10.0)
                one_attempt()
    b = best()
    sec = b if b is not None else -1.0
    return {
        "sec": sec,
        "attempts": attempts,
        "outcome": fence_row_outcome(sec, ref, stormy),
        "failures": len(attempts) - len(valid()),
        "errors": errors,
    }


#: Probe of the ANCHOR host class — the machine class on which the
#: BASELINE.md sf0.1 anchors are considered valid (min-of-3 quiet
#: runs, round-11 host: the class every anchor either was recorded on
#: or has been re-validated/re-anchored against under the documented
#: min-of-3-quiet-runs protocol).  A run whose measured probe differs
#: from this records a normalization factor in its sidecar and the 2x
#: fence compares probe-normalized ratios.  Update ONLY together with
#: a re-anchor pass, with a note in BASELINE.md.
#:
#: Calibration context matters: the probe is measured INSIDE the
#: harness, after the full warmup block, where it is session-stable
#: (three fresh r11 sessions: sums 0.236 / 0.236 / 0.256); a bare
#: session measures ~1.4x slower on the same machine because the JIT
#: is cold.  These values are the r11-host harness-context midpoint.
ANCHOR_PROBE = {"md5_2m_sec": 0.115, "regex_200k_sec": 0.130}

#: Clamp bounds for the normalization factor: the probe measures two
#: expression families, not the whole engine, so it must never scale
#: an anchor by more than the plausible host spread.  r14 (judge
#: sign-off, r13 verdict #7): the upper bound was 1.5 and saturated on
#: the 2-3x-slower sandboxes r12/r13 actually ran on, inflating every
#: normalized ratio there; widened to 3.0 — the observed sandbox
#: spread (r13 recorded probes 0.25-0.87 vs the 0.245 anchor, ~3.5x) —
#: with the RAW (unclamped) factor now printed in the summary line
#: beside the clamped one so saturation is always visible.
PROBE_FACTOR_BOUNDS = (0.7, 3.0)


def probe_factor_raw(
    current: dict[str, float] | None,
    anchor: dict[str, float] | None = None,
) -> float | None:
    """UNCLAMPED probe factor for the sidecar/summary audit trail —
    the honest signal when :func:`probe_factor` saturates at a clamp
    bound.  None when either probe is missing/invalid."""
    cur = probe_sum(current)
    ref = probe_sum(anchor if anchor is not None else ANCHOR_PROBE)
    if not cur or not ref:
        return None
    return round(cur / ref, 3)


def host_probe(spark: SparkSession, runs: int = 3) -> dict[str, float]:
    """Deterministic, data-independent CPU fingerprint (seconds, lower
    = faster): md5-hash throughput over 2M synthetic rows (the
    dedup/shard hash family) and regex-extract throughput over 200k
    rows (the quality-gate family).  Pure-JVM expressions — no I/O, no
    Python workers.  Each probe runs once untimed (codegen for the
    shape) then ``runs`` timed executions with the MIN recorded:
    round 10's single-shot probes measured 0.400 vs 0.473 within the
    SAME round under different load, so the min-of-3 is the machine's
    capability, not the co-tenant's burst.
    """

    def _probe(df_builder) -> float:
        df_builder().count()  # untimed: codegen for this shape
        best = float("inf")
        for _ in range(max(1, runs)):
            t0 = time.perf_counter()
            df_builder().count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    md5 = _probe(
        lambda: spark.range(2_000_000)
        .select(F.md5(F.col("id").cast("string")).alias("h"))
        .filter("h is not null")
    )
    regex = _probe(
        lambda: spark.range(200_000)
        .select(
            F.size(
                F.regexp_extract_all(
                    F.concat(
                        F.lit("the quick brown fox jumps over the lazy dog "),
                        F.col("id").cast("string"),
                    ),
                    F.lit(r"\b\w{4,}\b"),
                    F.lit(0),
                )
            ).alias("n")
        )
        .filter("n >= 0")
    )
    return {"md5_2m_sec": md5, "regex_200k_sec": regex}


def probe_sum(probe: dict[str, float] | None) -> float | None:
    """Combined probe scalar: sum of the two families (both matter —
    the catalog's expensive rows split roughly evenly between
    hash-dominated dedup/shard work and regex-dominated gates)."""
    if not probe:
        return None
    try:
        v = float(probe["md5_2m_sec"]) + float(probe["regex_200k_sec"])
    except (KeyError, TypeError, ValueError):
        return None
    return v if v > 0 else None


def probe_factor(
    current: dict[str, float] | None,
    anchor: dict[str, float] | None = None,
    bounds: tuple[float, float] = PROBE_FACTOR_BOUNDS,
) -> float:
    """Normalization factor f = clamp(probe_now / probe_anchor):
    normalized_ratio = raw_ratio / f.  f > 1 means the current host is
    SLOWER than the anchor class, so raw ratios are inflated by
    exactly the machine, not the plan; f < 1 (faster host) tightens
    the comparison symmetrically.  Missing/invalid probes degrade to
    f = 1 (raw comparison), never to an exception."""
    cur = probe_sum(current)
    ref = probe_sum(anchor if anchor is not None else ANCHOR_PROBE)
    if not cur or not ref:
        return 1.0
    lo, hi = bounds
    return round(min(hi, max(lo, cur / ref)), 3)


def probe_factor_clamped(factor: float, raw: float | None) -> bool:
    """True when ``PROBE_FACTOR_BOUNDS`` clamped the normalization
    factor (the raw factor differs from the one applied); prints a
    ``# WARNING`` line to stderr so a saturated clamp is never silent.
    A missing raw factor (no probe) is not a clamp."""
    if raw is None or raw == factor:
        return False
    print(f"# WARNING: probe factor clamped to {factor} (raw {raw}); "
          f"normalized ratios do not cover the full host difference",
          file=sys.stderr)
    return True


#: RAW (unclamped) probe factor above which the host is considered to
#: be inside a hypervisor-steal storm (round-11 verdict #7): the r11
#: round committed two formal fence violations measured at loadavg
#: 22–26 that a fresh quiet-host run cleared — the 10 s backoff does
#: not outlast a sustained storm, and the clamped normalization factor
#: (PROBE_FACTOR_BOUNDS caps at 1.5) cannot normalize a 3-4x steal.
#: The detector must see the full excursion, so it uses the UNCLAMPED
#: ratio.
STORM_PROBE_FACTOR = 1.5


def host_is_stormy(
    probe_now: dict[str, float] | None,
    anchor: dict[str, float] | None = None,
    threshold: float = STORM_PROBE_FACTOR,
) -> bool:
    """True when the current probe reads more than ``threshold`` times
    the anchor class, UNCLAMPED.  Missing/invalid probes degrade to
    False — a failed probe must never block a measurement, only a
    measured storm may."""
    cur = probe_sum(probe_now)
    ref = probe_sum(anchor if anchor is not None else ANCHOR_PROBE)
    if not cur or not ref:
        return False
    return cur / ref > threshold


def fence_row_outcome(t: float, ref: float, stormy: bool) -> str:
    """Classify one fence row after all measurement attempts:
    ``'ok'`` within the 2x guard, ``'violation'`` over it on a quiet
    host, ``'deferred'`` over it while :func:`host_is_stormy` — a
    storm run must produce a deferred marker, NEVER a committed
    violation row (round-11 verdict #7: violations recorded inside a
    steal storm misrepresent the plan; the judge's quiet re-run
    cleared both r11 rows).  ``ref`` is the probe-normalized
    reference; a failed measurement (t <= 0) is always a violation —
    errors are code, not weather."""
    if t <= 0:
        return "violation"
    if t <= 2.0 * ref:
        return "ok"
    return "deferred" if stormy else "violation"


def merged_timing(prior: float | None, new_sec: float) -> float:
    """Merge a later protocol pass into a row's recorded timing: the
    best VALID measurement wins.  Round-12 ADVICE #1: the end-of-run
    deferred pass used to set ``timings[name] = -1.0`` on exception
    unconditionally, clobbering the valid storm-period measurement
    recorded earlier and converting a deferred row into a failure
    violation — a failed re-measure (``new_sec <= 0``) must keep the
    prior value when one exists."""
    if new_sec > 0 and (prior is None or prior <= 0 or new_sec < prior):
        return new_sec
    return new_sec if prior is None else prior


def fence_run_is_clean(out: dict) -> bool:
    """A fence run is CLEAN only when both ``violations_2x`` AND
    ``deferred_storm`` are empty.  Round-12 ADVICE #2: a run whose host
    stayed stormy end-to-end moves every over-guard row into
    ``deferred_storm`` and leaves ``violations_2x`` empty — such a run
    proved nothing about those rows and must not count as clean (it
    could silently replace a validated 0-violation artifact and exit 0,
    hiding a real regression behind the weather)."""
    return not out.get("violations_2x") and not out.get("deferred_storm")


def fence_exit_code(out: dict) -> int:
    """Process exit for a fence run: 0 clean, 2 when ``violations_2x``
    is non-empty (quiet-host regressions — fail hard), 3 when the only
    abnormality is storm-deferred rows (weather: the rows could not be
    measured on a quiet host; distinct from both success and violation
    so a caller cannot mistake an unproven run for a validated one —
    round-12 ADVICE #2)."""
    if out.get("violations_2x"):
        return 2
    if out.get("deferred_storm"):
        return 3
    return 0


def fence_write_decision(
    new_out: dict,
    committed: dict | None,
    force: bool = False,
) -> tuple[str, str | None]:
    """Where may a fence run land?  Returns (filename, refusal_reason).

    Round-11 verdict #1: the end-of-round snapshot committed a
    storm-contaminated run (2 formal violations, loadavg 22–26) OVER
    the clean quarterly 48/48 fence, so HEAD misrepresented the repo
    to any reader.  Rule: a run that is not :func:`fence_run_is_clean`
    (non-empty ``violations_2x`` OR — round-12 ADVICE #2 — non-empty
    ``deferred_storm``) may not replace a committed artifact that IS
    clean — it lands in ``BENCH_sf1_VIOLATING.json`` with the refusal
    reason, where it is visible for triage but cannot masquerade as
    the repo's validated state.  ``force=True`` (an explicit human
    triage decision, env SPARK_GRAFT_FENCE_FORCE=1) overrides.  A
    clean run, or a run replacing an already-non-clean artifact,
    writes normally."""
    clean_name, triage_name = "BENCH_sf1.json", "BENCH_sf1_VIOLATING.json"
    if force or fence_run_is_clean(new_out):
        return clean_name, None
    if committed is not None and fence_run_is_clean(committed):
        detail = []
        if new_out.get("violations_2x"):
            detail.append(f"violations: {sorted(new_out['violations_2x'])}")
        if new_out.get("deferred_storm"):
            detail.append(
                f"storm-deferred: {sorted(new_out['deferred_storm'])}"
            )
        return triage_name, (
            "refusing to overwrite a clean committed fence artifact with a "
            f"non-clean run ({'; '.join(detail)}); triage the rows, then "
            "re-run — or set SPARK_GRAFT_FENCE_FORCE=1 with a triage note "
            "to overwrite deliberately"
        )
    return clean_name, None


def same_probe_class(
    a: dict[str, float] | None,
    b: dict[str, float] | None,
    tolerance: float = 0.25,
) -> bool:
    """True when two probes are within ``tolerance`` relative distance
    — the min-merge guard for BENCH_QUERIES.json's per-class best map
    (verdict #3: a fast-host historical minimum must not mask a
    current-host regression, so bests only merge within a class)."""
    sa, sb = probe_sum(a), probe_sum(b)
    if not sa or not sb:
        return False
    return abs(sa / sb - 1.0) <= tolerance
