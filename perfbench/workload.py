"""One benchmark run of one workload, in its own Python process and JVM.

``run.py`` starts this file with the environment every run needs
(package root on ``PYTHONPATH`` for Spark's Python workers, local dirs
inside the checkout) and relays its result. Run order:

1. set-up: ``get_spark``, seeded inputs (prepared three times, median
   kept), and an untimed warm-up (each workload's ``warm_up``);
2. timed passes of a fixed operation list, one client in a closed loop,
   until ``--seconds`` would be exceeded (at least one pass);
3. untimed output checks, then the metrics as one JSON file.

Workloads:

``etl_batches``  the write path, then the read path over what it wrote.
    Each pass loads batch 0 into an empty warehouse, appends batches
    1..N-1, reruns already-loaded batches (each rerun must insert 0
    rows), then runs the ``queries/analytics.sql`` corpus through
    ``run_queries.run_query``.
``library_sf0.01``  a fixed sample of the ``queries()`` registry over the
    vendored sf0.01 tables, each result checked against its DuckDB
    ``oracle_sql()`` twin.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time
import uuid
from datetime import date, datetime, timedelta
from datetime import time as dtime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import failed_share, percentile, ratio  # noqa: E402

PKG = "local_etl_csv_to_postgresql_spark"
SETUP_REPEATS = 3


class Op:
    """One timed call into the program and what the benchmark saw."""

    def __init__(self, kind: str, name: str, layer: str):
        self.kind = kind
        self.name = name
        self.layer = layer
        self.seconds = 0.0
        self.job_lo = 0
        self.start = 0.0
        self.end = 0.0
        self.ok = True
        self.detail = ""
        self.info: dict = {}
        self.counters: dict = {}

    def fail(self, why: str) -> None:
        self.ok = False
        self.detail = (self.detail + "; " if self.detail else "") + why

    def as_dict(self) -> dict:
        return {
            "kind": self.kind,
            "name": self.name,
            "layer": self.layer,
            "seconds": self.seconds,
            "ok": self.ok,
            "detail": self.detail,
            **self.info,
            **self.counters,
        }


def timed(op: Op, tracer, fn):
    """Time ``fn()`` into ``op``; an exception marks the op failed. A
    traced run also reads the op's Spark counters, after the timer."""
    if tracer:
        c0 = time.perf_counter()
        op.job_lo = tracer.next_job_id()
        tracer.cost_s += time.perf_counter() - c0
    op.start = time.perf_counter()
    try:
        result = fn()
    except Exception as e:  # noqa: BLE001 — one failed op must not end the run
        result = None
        first_line = (str(e).strip().splitlines() or [""])[0]
        op.fail(f"{type(e).__name__}: {first_line[:300]}")
    op.end = time.perf_counter()
    op.seconds = op.end - op.start
    if tracer:
        op.counters = tracer.job_counters(op.job_lo, tracer.next_job_id())
        tracer.cost_s += time.perf_counter() - op.end
        if op.counters["task_failures"]:
            op.fail(f"{op.counters['task_failures']} failed tasks")
    return result


# ---------------------------------------------------------------- etl_batches


class EtlBatches:
    """Write path then read path; see the module docstring."""

    ROWS = 10_000  # the reference's published ETL scale
    USERS = 2_000
    BATCHES = 2  # batch 0 first load, then appends
    RERUNS = (0,)  # already-loaded batches loaded again
    WARM_ROWS = 300
    DIRTY_SHARE = 0.01

    def __init__(self, spark, seed: int, work: Path, tracer):
        from local_etl_csv_to_postgresql_spark.run_queries import (
            DEFAULT_CORPUS,
            parse_queries_file,
        )

        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.corpus = parse_queries_file(DEFAULT_CORPUS)
        # the calendar comes from the seed, never from today's date, so a
        # seed gives the same inputs on any day; every date stays inside
        # the seeded dim_date range (2022-2026)
        self.end_date = date(2024, 1, 1) + timedelta(days=seed % 731)
        self.max_valid_ts = datetime.combine(self.end_date + timedelta(days=1), dtime())
        self.clean: dict[str, int] = {}
        self.n_passes = 0

    # -- inputs

    def _batch(self, name: str, gen_seed: int, rows: int) -> list[dict]:
        """Generated rows plus a seeded share of dirty ones: exact
        duplicates (dropped by dedup) and rows that break one validation
        rule each. Every clean row is valid and distinct."""
        from local_etl_csv_to_postgresql_spark.sources.generator import (
            generate_transactions,
        )

        clean = generate_transactions(
            rows, self.USERS, 2, seed=gen_seed, end_date=self.end_date
        )
        # a stream of its own: sharing the generator's seed would repeat
        # its transaction ids
        rng = random.Random(f"dirty-{gen_seed}")
        future = (self.end_date + timedelta(days=30)).isoformat()
        breakers = [
            ("category", "Gambling"),
            ("amount", "-5.00"),
            ("amount", "25000.00"),
            ("date", future),
            ("user_id", "user_x"),
            ("merchant", ""),
            ("payment_method", "Bitcoin"),
        ]
        dirty = []
        for i in range(max(1, int(rows * self.DIRTY_SHARE))):
            row = dict(rng.choice(clean))
            if i % 4 == 0:
                dirty.append(row)  # exact duplicate
                continue
            col, bad = breakers[i % len(breakers)]
            row[col] = bad
            row["transaction_id"] = str(uuid.UUID(int=rng.getrandbits(128), version=4))
            dirty.append(row)
        out = clean + dirty
        rng.shuffle(out)
        self.clean[name] = len(clean)
        return out

    def prepare(self, into: Path) -> None:
        from local_etl_csv_to_postgresql_spark.sources.generator import (
            write_transactions_csv,
        )

        into.mkdir(parents=True, exist_ok=True)
        for i in range(self.BATCHES):
            # batch i's generator seed is a function of (seed, i)
            rows = self._batch(f"b{i}", self.seed * 1_000 + i, self.ROWS)
            write_transactions_csv(str(into / f"b{i}.csv"), rows)
        rows = self._batch("w0", self.seed * 1_000 + 500, self.WARM_ROWS)
        write_transactions_csv(str(into / "w0.csv"), rows)
        self.inputs = into

    def _cfg(self, warehouse: Path):
        from local_etl_csv_to_postgresql_spark.config import (
            EngineConfig,
            ValidationConfig,
            WarehouseConfig,
        )

        return EngineConfig(
            validation=ValidationConfig(max_valid_ts=self.max_valid_ts),
            warehouse=WarehouseConfig(path=str(warehouse)),
        )

    # -- operations

    def _load(self, kind: str, batch: str, cfg, ops: list[Op]) -> None:
        from local_etl_csv_to_postgresql_spark.pipeline import run_etl_pipeline

        op = Op(kind, f"{kind}:{batch}", "pipeline")
        files_before = _parquet_files(cfg.warehouse.path) if self.tracer else 0
        csv = str(self.inputs / f"{batch}.csv")
        res = timed(op, self.tracer, lambda: run_etl_pipeline(self.spark, csv, cfg))
        ops.append(op)
        if res is None:
            return
        n_clean = self.clean[batch]
        op.info = {
            "extracted": res.extracted_rows,
            "valid": res.transformed_rows,
            "inserted": res.loaded_rows,
            "skipped": res.skipped_rows,
            "issue_counts": dict(res.issue_counts),
            "dims_inserted": dict(res.dims_inserted),
            "phase_times": dict(res.phase_times),
        }
        if self.tracer:
            op.info["files_written"] = _parquet_files(cfg.warehouse.path) - files_before
        want = (0, n_clean) if kind == "rerun" else (n_clean, 0)
        if res.status != "success":
            op.fail(f"status {res.status}: {res.error}")
        elif res.transformed_rows != n_clean:
            op.fail(f"valid rows {res.transformed_rows} != {n_clean}")
        elif (res.loaded_rows, res.skipped_rows) != want:
            op.fail(
                f"inserted/skipped {(res.loaded_rows, res.skipped_rows)} != {want}"
            )

    def warm_up(self) -> None:
        """Untimed: the load path cold-compiles here, not in pass 1: a
        first load of a small batch, then the corpus over that small
        warehouse. The existing-table path stays cold to keep a run
        within its time budget."""
        cfg = self._cfg(self.work / "wh_warm")
        ops = self.warm_ops = []
        self._load("first", "w0", cfg, ops)
        self._reads(cfg, ops, check=False)
        self._raise_on_failure(ops)

    def _reads(self, cfg, ops: list[Op], check: bool) -> None:
        from local_etl_csv_to_postgresql_spark.run_queries import (
            DISPLAY_LIMIT,
            run_query,
        )
        from local_etl_csv_to_postgresql_spark.warehouse import Warehouse

        wh = Warehouse(self.spark, cfg.warehouse)
        op = Op("register_views", "register_views", "warehouse")
        timed(op, self.tracer, wh.register_views)
        ops.append(op)
        results = {}
        for i, q in enumerate(self.corpus, start=1):
            op = Op("query", f"q{i:02d}", "run_queries")
            out = timed(op, self.tracer, lambda q=q: run_query(self.spark, q))
            ops.append(op)
            if out is not None:
                rows, total = out
                op.info = {"rows": total, "recount": total > DISPLAY_LIMIT}
                results[i] = (rows, total, op)
        if check:
            self._check_reads(results, ops)

    def _check_reads(self, results: dict, ops: list[Op]) -> None:
        """Q1 counts equal the loaded totals, Q2 finds no orphans, Q3 no
        duplicate transaction ids."""
        loads = [o for o in ops if o.layer == "pipeline" and o.info]
        want = {"fact_transactions": sum(o.info["inserted"] for o in loads)}
        for o in loads:
            for t, n in o.info["dims_inserted"].items():
                want[t] = want.get(t, 0) + n
        want["dim_date"] = want.get("dim_date", 0) + 1826  # seeded calendar
        if 1 in results:
            rows, _, op = results[1]
            got = {r["table_name"]: r["row_count"] for r in rows}
            if got != want:
                op.fail(f"record counts {got} != {want}")
        if 2 in results:
            rows, _, op = results[2]
            if any(v for r in rows for v in r.values()):
                op.fail(f"orphans {rows}")
        if 3 in results:
            _, total, op = results[3]
            if total:
                op.fail(f"{total} duplicate transaction ids")

    def run_pass(self) -> list[Op]:
        cfg = self._cfg(self.work / f"wh_pass{self.n_passes}")
        self.n_passes += 1
        ops: list[Op] = []
        self._load("first", "b0", cfg, ops)
        for i in range(1, self.BATCHES):
            self._load("append", f"b{i}", cfg, ops)
        for i in self.RERUNS:
            self._load("rerun", f"b{i}", cfg, ops)
        self._reads(cfg, ops, check=True)
        if self.tracer:
            fact = Path(cfg.warehouse.path) / cfg.warehouse.fact_table
            ops[-1].info["fact_files"] = _parquet_files(fact)
        return ops

    def check(self, passes: list[list[Op]]) -> None:
        """All checks run inside the passes, untimed."""

    @staticmethod
    def _raise_on_failure(ops: list[Op]) -> None:
        bad = [f"{o.name}: {o.detail}" for o in ops if not o.ok]
        if bad:
            raise RuntimeError(f"warm-up failed: {bad}")


def _parquet_files(path) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


# ------------------------------------------------------------- library_sf0.01


class Library:
    """A fixed sample of the registry over the vendored sf0.01 tables."""

    SF = HERE / "data" / "sf0.01"
    #: the sample, run in this fixed order: relational entries of
    #: plans.analytics, the three Arrow-kernel queries, fs01 (record
    #: linkage) and two streaming replays
    SAMPLE = (
        "q01_record_counts", "q05_monthly_trends", "q09_top_types_pct",
        "q11_top20_suppliers", "q17_mom_growth", "q19_anomalous_lineitems",
        "q22_user_sessions", "q28_top_customers_per_nation",
        "q37_grouping_sets", "aj02_asof_next_purchase",
        "dd13_semantic_dedup", "es06_ivf_kmeans_ann", "es12_pq_reconstruction_qc",
        "fs01_fellegi_sunter_scores",
        "st01_tumbling_rollup", "st05_sliding_rollup",
    )
    #: the warm-up: one entry per operation type (relational plan,
    #: Arrow/pandas kernel in Python workers, record linkage, streaming)
    WARM = (
        "q01_record_counts", "dd13_semantic_dedup",
        "fs01_fellegi_sunter_scores", "st01_tumbling_rollup",
    )
    LAYERS = {
        f"{PKG}.plans.analytics": "plans",
        f"{PKG}.functions.entrypoints": "functions",
        f"{PKG}.streaming.queries": "streaming",
    }

    def __init__(self, spark, seed: int, work: Path, tracer):
        import __spark_entry__ as entry

        self.spark = spark
        self.entry = entry
        self.tracer = tracer
        self.registry = entry.queries()
        missing = [n for n in self.SAMPLE if n not in self.registry]
        if missing:
            raise RuntimeError(f"sample names not in queries(): {missing}")
        # the data is fixed and so is the order: permuting it by seed
        # moved the per-run median by up to 20%
        self.first_results: dict[str, tuple] = {}

    def layer(self, name: str) -> str:
        fn = self.registry[name]
        return self.LAYERS.get(getattr(fn, "__module__", ""), "other")

    def prepare(self, into: Path) -> None:
        """Open every table: footer reads and schema inference."""
        from local_etl_csv_to_postgresql_spark.plans.analytics import TABLES, load

        for t in TABLES:
            load(self.spark, str(self.SF), t).schema

    def _run(self, name: str, op: Op | None = None):
        """(columns, rows) of one entry, timed into ``op`` when given."""
        fn = self.registry[name]
        views = {t.name for t in self.spark.catalog.listTables() if t.isTemporary}
        out = {}

        def call():
            df = fn(self.spark, str(self.SF))
            out["columns"] = df.columns
            return df.collect()

        try:
            rows = timed(op, self.tracer, call) if op else call()
            return out.get("columns"), rows
        finally:
            # untimed, as bench.py does between entries: drop per-pass
            # intermediates, cached frames and any views a replay left
            self.entry.reset_shared_intermediates()
            self.spark.catalog.clearCache()
            for t in self.spark.catalog.listTables():
                if t.isTemporary and t.name not in views:
                    self.spark.catalog.dropTempView(t.name)

    def warm_up(self) -> None:
        for name in self.WARM:
            self._run(name)

    def run_pass(self) -> list[Op]:
        ops = []
        for name in self.SAMPLE:
            op = Op("query", name, self.layer(name))
            columns, rows = self._run(name, op)
            ops.append(op)
            if rows is None:
                continue
            op.info = {"rows": len(rows)}
            first = self.first_results.setdefault(name, (columns, rows))
            if first[1] is not rows and len(first[1]) != len(rows):
                op.fail(f"{len(rows)} rows, first pass had {len(first[1])}")
        return ops

    def check(self, passes: list[list[Op]]) -> None:
        """Untimed: each sampled result against its DuckDB twin."""
        import duckdb

        from local_etl_csv_to_postgresql_spark.plans.analytics import TABLES
        from oracle import same_result

        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.SF}/{t}.parquet'")
        first_op = {}
        for ops in passes:
            for op in ops:
                first_op.setdefault(op.name, op)
        for name, (columns, rows) in self.first_results.items():
            op = first_op[name]
            if name not in oracles:
                op.fail("no oracle_sql twin")
                continue
            cur = con.execute(oracles[name])
            want_cols = [d[0] for d in cur.description]
            problem = same_result(columns, [r.asDict() for r in rows], want_cols, cur.fetchall())
            if problem:
                op.fail(f"oracle mismatch: {problem}")
        con.close()


WORKLOADS = {"etl_batches": EtlBatches, "library_sf0.01": Library}


# ------------------------------------------------------------------- metrics


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops: list[Op], passes: list[list[Op]], setup_s: float) -> dict:
    secs = [o.seconds for o in ops]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median([sum(o.seconds for o in p) for p in passes]), "s"),
        "op_s.p50": (percentile(secs, 50), "s"),
    }


def per_layer(
    workload: str, ops: list[Op], passes: list[list[Op]], tracer, extra: dict
) -> dict:
    """Per-layer metrics of a traced run, all of them on every workload:
    a layer the workload does not reach reports 0."""
    n_pass = len(passes)
    m: dict[str, tuple] = {}

    def per_pass(x):
        return x / n_pass

    m["session.get_spark_s"] = (extra["get_spark_s"], "s")
    m["jvm_peak_rss_mb"] = (extra["jvm_peak_rss_mb"], "MB")
    for k in ("jobs", "stages", "tasks", "task_failures"):
        m[f"spark.{k}"] = (per_pass(sum(o.counters.get(k, 0) for o in ops)), "count")
    n_failed = sum(not o.ok for o in ops)
    m["ops_failed_share"] = (failed_share(n_failed, len(ops)), "ratio")

    # -- etl: sources, operators, pipeline, warehouse write side
    loads = [o for o in ops if o.layer == "pipeline" and o.info]
    by_kind = {k: [o for o in loads if o.kind == k] for k in ("first", "append", "rerun")}
    spans = {id(o): tracer.within(o.start, o.end) for o in loads}

    def span(o, name):
        return next((s for s in spans[id(o)] if s["name"] == name), None)

    for kind, group in by_kind.items():
        ext_s, ext_j, tr_s, tr_j, ld_s, ld_j, files = [], [], [], [], [], [], []
        for o in group:
            tr = span(o, "operators.transform_transactions")
            lw = span(o, "warehouse.load_warehouse")
            ext_s.append(o.info["phase_times"].get("extract", 0.0))
            tr_s.append(o.info["phase_times"].get("transform", 0.0))
            ld_s.append(o.info["phase_times"].get("load", 0.0))
            if tr:
                ext_j.append(tr["job_lo"] - o.job_lo)
                tr_j.append(tr["job_hi"] - tr["job_lo"])
            if lw:
                ld_j.append(lw["job_hi"] - lw["job_lo"])
            files.append(o.info.get("files_written", 0))
        m[f"sources.extract_s.{kind}"] = (_median(ext_s), "s")
        m[f"sources.extract_jobs.{kind}"] = (_median(ext_j), "count")
        m[f"operators.transform_s.{kind}"] = (_median(tr_s), "s")
        m[f"operators.transform_jobs.{kind}"] = (_median(tr_j), "count")
        m[f"warehouse.load_s.{kind}"] = (_median(ld_s), "s")
        m[f"warehouse.load_jobs.{kind}"] = (_median(ld_j), "count")
        m[f"warehouse.files_written.{kind}"] = (_median(files), "count")
    m["operators.rows_rejected"] = (
        per_pass(sum(o.info["extracted"] - o.info["valid"] for o in loads)), "count"
    )
    m["etl_first_s"] = (_median([o.seconds for o in by_kind["first"]]), "s")
    m["etl_append_s.p50"] = (_median([o.seconds for o in by_kind["append"]]), "s")
    m["etl_rerun_s.p50"] = (_median([o.seconds for o in by_kind["rerun"]]), "s")
    inserting = [o for o in loads if o.info["inserted"]]
    m["etl_rows_per_s"] = (
        ratio(sum(o.info["inserted"] for o in inserting), sum(o.seconds for o in inserting)),
        "rows/s",
    )
    dim_s = enrich_s = fact_s = snap_s = 0.0
    for o in loads:
        lw = span(o, "warehouse.load_warehouse")
        ef = span(o, "warehouse.enrich_fact")
        lf = span(o, "warehouse.load_fact")
        sn = span(o, "warehouse.snapshot")
        if lw and ef:
            dim_s += ef["start"] - lw["start"]
        enrich_s += ef["end"] - ef["start"] if ef else 0.0
        fact_s += lf["end"] - lf["start"] if lf else 0.0
        snap_s += sn["end"] - sn["start"] if sn else 0.0
    m["warehouse.dim_phase_s"] = (per_pass(dim_s), "s")
    m["warehouse.enrich_fact_s"] = (per_pass(enrich_s), "s")
    m["warehouse.load_fact_s"] = (per_pass(fact_s), "s")
    m["warehouse.snapshot_s"] = (per_pass(snap_s), "s")
    for kind in ("append", "rerun"):
        group = by_kind[kind]
        m[f"warehouse.insert_yield.{kind}"] = (
            ratio(sum(o.info["inserted"] for o in group), sum(o.info["extracted"] for o in group)),
            "ratio",
        )

    # -- etl: warehouse read side and run_queries
    register = [o for o in ops if o.kind == "register_views"]
    last = [p[-1] for p in passes]
    m["warehouse.fact_files"] = (_median([o.info.get("fact_files", 0) for o in last]), "count")
    m["warehouse.register_views_s"] = (_median([o.seconds for o in register]), "s")
    corpus = [o for o in ops if o.layer == "run_queries"]
    for i in range(1, extra["corpus_size"] + 1):
        name = f"q{i:02d}"
        m[f"run_queries.{name}_s"] = (_median([o.seconds for o in corpus if o.name == name]), "s")
    m["run_queries.jobs_per_pass"] = (per_pass(sum(o.counters.get("jobs", 0) for o in corpus)), "count")
    m["run_queries.recount_share"] = (
        ratio(sum(bool(o.info.get("recount")) for o in corpus), len(corpus)), "ratio"
    )

    # -- library: plans, functions, streaming
    for layer in ("plans", "functions", "streaming"):
        group = [o for o in ops if o.layer == layer]
        m[f"{layer}.s"] = (per_pass(sum(o.seconds for o in group)), "s")
        m[f"{layer}.jobs"] = (per_pass(sum(o.counters.get("jobs", 0) for o in group)), "count")
    for name in Library.SAMPLE:
        m[f"library.{name.split('_')[0]}_s"] = (
            _median([o.seconds for o in ops if o.name == name]), "s"
        )

    queries = corpus if workload == "etl_batches" else [o for o in ops if o.kind == "query"]
    secs = [o.seconds for o in queries]
    m["query_s.p50"] = (percentile(secs, 50) if secs else 0.0, "s")
    m["query_s.p75"] = (percentile(secs, 75) if secs else 0.0, "s")
    m["trace.overhead_share"] = (ratio(tracer.cost_s, sum(o.seconds for o in ops)), "ratio")
    return m


# ---------------------------------------------------------------------- main


def cpu_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: a machine-speed
    reading kept in the record beside loadavg, to tell a slow host from a
    slow program."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def provenance(args) -> dict:
    def git(*cmd):
        try:
            out = subprocess.run(
                ["git", *cmd], cwd=ROOT, capture_output=True, text=True, timeout=10
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return out.stdout.strip() if out.returncode == 0 else None

    import pyspark

    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if sha else None
    return {
        "git_sha": sha or "unknown",
        "dirty": None if status is None else bool(status),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "started_at": datetime.now().isoformat(timespec="seconds"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True, help="scratch directory of this run")
    ap.add_argument("--result", required=True, help="where to write the result JSON")
    args = ap.parse_args(argv)
    work = Path(args.work)
    record = {
        "provenance": provenance(args),
        "loadavg_start": os.getloadavg(),
        "cpu_probe_start_s": cpu_probe_s(),
    }

    t_setup = time.perf_counter()
    from local_etl_csv_to_postgresql_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    jvm = spark.sparkContext._gateway.proc
    tracer = None
    if args.trace:
        from spans import Tracer, instrument

        tracer = Tracer(spark)
        instrument(tracer)
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        prep = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(work / f"inputs{i}")
            prep.append(time.perf_counter() - t0)
        prep_s = statistics.median(prep)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        # one session start and one warm-up per run; input preparation is
        # repeated and enters as its median
        setup_s = get_spark_s + prep_s + warm_s
        record["setup_wall_s"] = time.perf_counter() - t_setup
        if tracer:
            tracer.spans.clear()
            tracer.cost_s = 0.0

        passes: list[list[Op]] = []
        t_run = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            passes.append(wl.run_pass())
            last = time.perf_counter() - t0
            if time.perf_counter() - t_run + last > args.seconds:
                break
        record["measured_s"] = time.perf_counter() - t_run
        wl.check(passes)
        ops = [o for p in passes for o in p]
        rss = jvm_peak_rss_mb(jvm.pid)
        e2e = end_to_end(ops, passes, setup_s)
        record.update(
            setup={
                "get_spark_s": get_spark_s,
                "prepare_s": prep,
                "warm_up_s": warm_s,
                "warm_up_ops": [o.as_dict() for o in getattr(wl, "warm_ops", [])],
            },
            passes=len(passes),
            ops=[o.as_dict() for o in ops],
        )
        metrics = e2e
        if tracer:
            from local_etl_csv_to_postgresql_spark.run_queries import (
                DEFAULT_CORPUS,
                parse_queries_file,
            )

            corpus = parse_queries_file(DEFAULT_CORPUS)
            metrics = per_layer(
                args.workload,
                ops,
                passes,
                tracer,
                {
                    "get_spark_s": get_spark_s,
                    "jvm_peak_rss_mb": rss,
                    "corpus_size": len(corpus),
                },
            )
            record["spans"] = tracer.spans
        failed = sum(not o.ok for o in ops)
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        record["result"] = result
        record["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        record["jvm_peak_rss_mb"] = rss
    finally:
        spark.stop()
        # PySpark's gateway JVM exits when its stdin closes
        jvm.stdin.close()
        jvm.wait(timeout=60)
    record["loadavg_end"] = os.getloadavg()
    record["cpu_probe_end_s"] = cpu_probe_s()
    with open(args.result, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
