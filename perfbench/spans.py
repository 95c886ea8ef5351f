"""Tracing from outside the package: spans around calls into its public
functions, with Spark job ids read before and after each call.

Nothing here edits package code. ``instrument`` rebinds names in the
package's modules for the life of one benchmark process, and only in a
traced run; untraced runs never import this module's wrappers.
"""

from __future__ import annotations

import functools
import threading
import time


class Tracer:
    """Spans kept in memory: (name, start, end, first job id, next job id
    at end). Job ids come from the DAG scheduler's counter, so jobs that
    other driver threads submit inside a span (the warehouse's dimension
    threads) are counted too."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._status = sc.statusTracker()
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        # seconds of the tracer's own bookkeeping: inside spans, and
        # reading job ids and counters around each timed operation
        self.cost_s = 0.0

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            c0 = time.perf_counter()
            span = {"name": name, "job_lo": self.next_job_id()}
            span["start"] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter()
                span["job_hi"] = self.next_job_id()
                with self._lock:
                    self.spans.append(span)
                    self.cost_s += (span["start"] - c0) + (
                        time.perf_counter() - span["end"]
                    )

        return traced

    def within(self, start: float, end: float) -> list[dict]:
        """Spans that began and ended inside [start, end]."""
        return [s for s in self.spans if start <= s["start"] and s["end"] <= end]

    def job_counters(self, job_lo: int, job_hi: int) -> dict:
        """Stages, tasks and failed tasks of jobs [job_lo, job_hi), read
        from the status tracker. Stages that AQE skipped have no info and
        are not counted."""
        stages = tasks = failed = 0
        seen: set[int] = set()
        for job_id in range(job_lo, job_hi):
            info = self._status.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                stage = self._status.getStageInfo(stage_id)
                if stage is None:
                    continue
                stages += 1
                tasks += stage.numTasks
                failed += stage.numFailedTasks
        return {
            "jobs": job_hi - job_lo,
            "stages": stages,
            "tasks": tasks,
            "task_failures": failed,
        }


#: (module, attribute, module that looks the name up) rebound in a
#: traced run; a class attribute is wrapped as a plain function, so
#: ``self`` passes through
TRACED = (
    ("operators.transform", "transform_transactions", "pipeline"),
    ("warehouse", "Warehouse.load_warehouse", None),
    ("warehouse", "Warehouse.enrich_fact", None),
    ("warehouse", "Warehouse.load_fact", None),
    ("warehouse", "Warehouse.snapshot", None),
    ("warehouse", "Warehouse.register_views", None),
)


def instrument(tracer: Tracer) -> None:
    """Rebind the traced package functions to spanned wrappers.
    ``transform_transactions`` is rebound where ``pipeline`` looks it up."""
    import importlib

    pkg = "local_etl_csv_to_postgresql_spark"
    for module, attr, lookup in TRACED:
        mod = importlib.import_module(f"{pkg}.{module}")
        owner_name, _, fn_name = attr.rpartition(".")
        owner = getattr(mod, owner_name) if owner_name else mod
        fn = getattr(owner, fn_name)
        span_name = f"{module.rsplit('.', 1)[0]}.{fn_name}"
        if lookup:
            owner = importlib.import_module(f"{pkg}.{lookup}")
        setattr(owner, fn_name, tracer.wrap(span_name, fn))
