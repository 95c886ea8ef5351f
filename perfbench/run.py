"""The repo benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload etl_batches --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload library_sf0.01 --seed 1 --seconds 20 --trace 1 \\
        --out records/lib-1.json

The run happens in a child process (``workload.py``) whose working
directory is a fresh ``.perfbench_work/`` entry of the checkout, removed
afterwards, with Spark's local dirs and every temporary directory inside
it. The child gets the package root on ``PYTHONPATH``: Spark's Python
workers import the package by name and fail without it when the working
directory is elsewhere. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``). ``--out`` also writes the full record — the
provenance, every operation and span — and refuses to replace an
existing file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("etl_batches", "library_sf0.01")
CHILD_TIMEOUT_S = 170


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][:1] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the full run record here (write-once)")
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    if not (ROOT / "local_etl_csv_to_postgresql_spark" / "__init__.py").is_file():
        print(f"no package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    if args.out and os.path.exists(args.out):
        print(f"refusing to overwrite the record {args.out}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    result_path = work / "result.json"
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'}",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    cmd = [
        sys.executable, str(HERE / "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", str(work),
        "--result", str(result_path),
    ]
    t0 = time.time()
    # stop cleanly on SIGTERM too: the finally below kills the child's
    # process group and removes the work directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    # the child's stdout goes to our stderr: the result must be our last line
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    code = None
    record = None
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
        if code == 0 and result_path.is_file():
            record = json.loads(result_path.read_text())
    except subprocess.TimeoutExpired:
        pass
    finally:
        _stop_session(proc)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it
    if record is None:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"{args.workload}: the run {why} after {time.time() - t0:.0f}s", file=sys.stderr)
        return 1
    if args.out:
        with open(args.out, "x") as f:
            json.dump(record, f)
    print(json.dumps(record["result"], separators=(",", ":")), flush=True)
    return 0


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's session — its JVM and Python
    workers included — and wait until every member has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in _session_members(proc.pid) if _alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def _session_members(sid: int) -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit() and _in_session(int(p), sid)]


def _in_session(pid: int, sid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().split(") ", 1)[1].split()
        return int(fields[3]) == sid  # field 6 of stat: session id
    except (FileNotFoundError, IndexError, ValueError):
        return False


if __name__ == "__main__":
    sys.exit(main())
