"""Per-layer tracing from outside the program.

``Tracer`` wraps the public functions of the engine's modules in place
(every module global that is the original function object is replaced,
so ``from x import f`` bindings are wrapped too) and records one span
per call.  Spans on the main thread also read the JVM status store:
the DAG scheduler's next stage and job ids are taken before the call,
and after it the listener bus is drained and every stage in the id
window is read.  Reading at the end of each span keeps the store's
retention limit from dropping stages of a long job.

Spans opened on worker threads (the per-site pools of ``pipeline.train``
and ``pipeline.score``) record only their driver time: jobs they fire
land in the window of the enclosing main-thread span.

Metric names follow ``<module>.<function>.<metric>`` and, summed over
the module's outermost spans, ``<module>.<metric>``.
"""

from __future__ import annotations

import importlib
import statistics
import sys
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

__all__ = ["LAYERS", "STAGE_METRICS", "Tracer"]

PKG = "recommendation_translation_spark"

#: module -> public functions wrapped as that layer
LAYERS: dict[str, tuple[str, ...]] = {
    "sources.readers": (
        "read_raw_data_tsv", "read_sitelinks_tsv", "read_pagecounts",
        "read_parsed_parquet", "read_features_parquet", "read_jsonl",
    ),
    "sources.writers": ("write_parquet", "write_predictions_csv", "write_jsonl"),
    "operators.rank": ("normalized_rank",),
    "operators.features": ("pivot_features",),
    "pipeline.assemble": ("get_work_data",),
    "pipeline.train": ("build_models",),
    "pipeline.score": ("score_items", "assemble_predictions"),
    "cli": ("run",),
    "pipeline.curate": ("curate_corpus",),
    "operators.dedup": ("dedup_exact", "ngram_jaccard_pairs"),
    "operators.curation": (
        "quality_flags", "blocklist_filter", "keep_best_per_pair",
        "source_quota", "interleave_sources", "pack_sequences",
    ),
    "operators.text": ("tokens",),
}

#: metrics read from the status store for a main-thread span
STAGE_METRICS = (
    "jobs", "task_s", "util", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s", "output_bytes",
)


class _Span:
    __slots__ = ("module", "child_s")

    def __init__(self, module: str):
        self.module = module
        self.child_s = 0.0


class Tracer:
    """Install with ``install()``; collect one job with ``begin_job()``
    and ``end_job()``; remove with ``uninstall()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.cores = sc.defaultParallelism
        self._main = threading.main_thread()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._stage_cache: dict[int, dict] = {}
        self.rows: dict[str, float] = defaultdict(float)

    # -- installation ------------------------------------------------
    def install(self) -> None:
        originals = {}
        for module, names in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{module}")
            for name in names:
                fn = getattr(mod, name)
                originals[id(fn)] = (fn, self._wrap(fn, module, name))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(mod).items()):
                hit = originals.get(id(value))
                if hit is not None and hit[0] is value:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, hit[1])
        self._wrap_model_load()

    def uninstall(self) -> None:
        for obj, attr, value in reversed(self._patched):
            if value is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, value)
        self._patched.clear()

    def _wrap_model_load(self) -> None:
        # cli.run loads models through the pyspark class it imports at
        # call time; the span counts as a child of cli.run
        from pyspark.ml.regression import RandomForestRegressionModel as cls

        orig = cls.load
        tracer = self

        def load(klass, path):
            return tracer._call(orig, (path,), {}, "cli", "model_load")

        self._patched.append((cls, "load", cls.__dict__.get("load")))
        cls.load = classmethod(load)

    def _wrap(self, fn, module: str, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer._call(fn, args, kwargs, module, name)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        return wrapper

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[_Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _call(self, fn, args, kwargs, module: str, name: str):
        stack = self._stack()
        on_main = threading.current_thread() is self._main
        outermost = all(s.module != module for s in stack)
        if on_main:
            s0, j0 = self._dag.nextStageId(), self._dag.nextJobId()
        span = _Span(module)
        stack.append(span)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1].child_s += dt
            rec = {"calls": 1, "call_s": dt}
            if on_main:
                rec.update(self._window(s0, self._dag.nextStageId(), j0))
                if (module, name) == ("pipeline.train", "build_models"):
                    rec.update(self._site_pools(s0, self._dag.nextStageId()))
                if (module, name) == ("cli", "run"):
                    rec["unattributed_s"] = dt - span.child_s
            self._add(f"{module}.{name}", rec)
            if outermost:
                self._add(module, rec)

    def _add(self, key: str, rec: dict) -> None:
        with self._lock:
            for metric, value in rec.items():
                self.rows[f"{key}.{metric}"] += value

    # -- status store ------------------------------------------------
    def _stage(self, sid: int) -> dict | None:
        hit = self._stage_cache.get(sid)
        if hit is not None:
            return hit
        try:
            s = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never reached the store
            return None
        status = s.status().toString()
        sub, done = s.submissionTime(), s.completionTime()
        rec = {
            "status": status,
            "pool": s.schedulingPool(),
            "run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "output": s.outputBytes(),
            "start_ms": sub.get().getTime() if sub.isDefined() else None,
            "end_ms": done.get().getTime() if done.isDefined() else None,
        }
        if status in ("COMPLETE", "FAILED", "SKIPPED"):
            self._stage_cache[sid] = rec
        return rec

    def _stages(self, s0: int, s1: int) -> list[dict]:
        if s1 > s0:
            self._bus.waitUntilEmpty()
        return [r for r in (self._stage(i) for i in range(s0, s1)) if r is not None]

    def _window(self, s0: int, s1: int, j0: int) -> dict:
        stages = self._stages(s0, s1)
        task_s = sum(r["run_ms"] for r in stages) / 1000.0
        return {
            "jobs": self._dag.nextJobId() - j0,
            "task_s": task_s,
            "shuffle_write_bytes": sum(r["shuffle_write"] for r in stages),
            "shuffle_read_bytes": sum(r["shuffle_read"] for r in stages),
            "spill_bytes": sum(r["spill"] for r in stages),
            "gc_s": sum(r["gc_ms"] for r in stages) / 1000.0,
            "output_bytes": sum(r["output"] for r in stages),
        }

    def _site_pools(self, s0: int, s1: int) -> dict:
        """Per-site wall and task time from the ``site-<site>`` pools
        the training fan-out sets on its threads."""
        spans: dict[str, list[int]] = {}
        task_ms = 0
        for r in self._stages(s0, s1):
            pool = r["pool"] or ""
            if not pool.startswith("site-") or r["start_ms"] is None:
                continue
            task_ms += r["run_ms"]
            lo_hi = spans.setdefault(pool, [r["start_ms"], r["end_ms"] or r["start_ms"]])
            lo_hi[0] = min(lo_hi[0], r["start_ms"])
            lo_hi[1] = max(lo_hi[1], r["end_ms"] or r["start_ms"])
        walls = sorted((hi - lo) / 1000.0 for lo, hi in spans.values())
        if not walls:
            return {"site_task_s": 0.0, "site_s.p50": 0.0, "site_s.p90": 0.0}
        p90 = statistics.quantiles(walls, n=10)[-1] if len(walls) > 1 else walls[0]
        return {
            "site_task_s": task_ms / 1000.0,
            "site_s.p50": statistics.median(walls),
            "site_s.p90": p90,
        }

    # -- per job -----------------------------------------------------
    def begin_job(self) -> None:
        self.rows = defaultdict(float)
        self._stage_cache.clear()

    def end_job(self) -> dict[str, float]:
        """The job's rows, with ``util = task_s / (call_s x cores)``
        derived per key."""
        rows, self.rows = dict(self.rows), defaultdict(float)
        for key in [k[: -len(".task_s")] for k in rows if k.endswith(".task_s")]:
            call_s = rows.get(f"{key}.call_s", 0.0)
            rows[f"{key}.util"] = rows[f"{key}.task_s"] / (call_s * self.cores) if call_s else 0.0
        return rows
