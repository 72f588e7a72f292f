"""aperag_spark benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload {kg,battery} --seed N --seconds S --trace {0,1}

Run from the repository root. The run happens in a child process
(worker.py) with its own Spark session on local[<cores>]; this process
samples the memory (PSS) of the child's whole process tree (driver JVM
and Python workers), stops every process of the tree, and removes what the
child left in its scratch directory (`.perfbench/run-<pid>/`) and the two
per-process paths the program writes outside it
(`/dev/shm/aperag_corpus_stages_<pid>`, `/tmp/aperag_spark_pyfiles_<pid>.zip`).

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it is the run's full record (setup steps, effective Spark conf,
per-span walls and Spark counters, output checks). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("kg", "battery")
DEADLINE_S = 170  # a run must end within 180 s


def _procs() -> list[tuple[int, int, bytes]]:
    """(pid, session id, cmdline) of every visible process."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rfind(b")") + 2 :].split()
        out.append((int(name), int(fields[3]), cmd))
    return out


def _session_pids(sid: int) -> list[int]:
    return [pid for pid, s, _ in _procs() if s == sid]


def _pss_bytes(pids: list[int]) -> int:
    """Proportional set size summed over `pids`: pages shared between the
    forked Python workers count once in total, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(l.split()[1]) for l in f if l.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


def _stop_session(sid: int, timeout: float = 30.0) -> None:
    """Wait for every process of the child's session to end; kill what is
    left after `timeout`."""
    end = time.monotonic() + timeout
    while _session_pids(sid):
        if time.monotonic() > end:
            for pid in _session_pids(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + timeout
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "aperag_spark")):
        print(f"perfbench: no aperag_spark package under {ROOT}", file=sys.stderr)
        return 2
    others = [pid for pid, _s, cmd in _procs() if b"org.apache.spark.deploy.SparkSubmit" in cmd]
    if others:
        print(f"perfbench: another Spark JVM is running (pids {others}); refusing to time", file=sys.stderr)
        return 3

    state_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": len(os.sched_getaffinity(0)),
        "work": work,
        "state_dir": state_dir,
    }
    env = dict(
        os.environ,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    t0 = time.monotonic()
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
        cwd=work,
        env=env,
        stdout=sys.stderr,
        start_new_session=True,
    )
    peak = 0
    try:
        while child.poll() is None:
            peak = max(peak, _pss_bytes(_session_pids(child.pid)))
            if time.monotonic() - t0 > DEADLINE_S:
                print("perfbench: run exceeded its deadline", file=sys.stderr)
                os.killpg(child.pid, signal.SIGKILL)
            time.sleep(0.2)
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        t_exit = time.monotonic()
        _stop_session(child.pid)
        t_stopped = time.monotonic()
        result_path = os.path.join(work, "result.json")
        result = None
        if child.returncode == 0 and os.path.exists(result_path):
            with open(result_path) as f:
                result = json.load(f)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(f"/dev/shm/aperag_corpus_stages_{child.pid}", ignore_errors=True)
        try:
            os.remove(f"/tmp/aperag_spark_pyfiles_{child.pid}.zip")
        except FileNotFoundError:
            pass
    if result is None:
        print(f"perfbench: worker failed (exit {child.returncode})", file=sys.stderr)
        return 1
    detail = result.pop("detail")
    detail["peak_pss_mb"] = peak / 2**20
    detail["worker_s"] = t_exit - t0
    detail["tree_exit_s"] = t_stopped - t_exit
    if args.trace:
        # repeats too loosely for an end-to-end bound (JVM heap growth), so
        # it is reported with the per-layer metrics
        result["metrics"]["mem.peak_pss_mb"] = {"value": peak / 2**20, "unit": "MB"}
    print(json.dumps({"record": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
