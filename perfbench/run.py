"""Repository benchmark: one run of one workload, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 20 --trace 0

Each run starts ``perfbench/workload.py`` as a fresh process pinned with
``taskset`` to every core this process may use, on ``local[cores]`` with
``2 x cores`` shuffle partitions.  A traced run also samples the peak
memory of the whole process tree (Python driver, JVM, Python workers) from
``/proc``.  All files of the run (catalog, Spark local dirs, temp files,
generated tables) live under ``.perfbench/`` and are deleted at the end; a
traced run keeps its span file in ``.perfbench/spans/``.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
``end_to_end`` entries of BENCHMARK.json with ``--trace 0`` and its
``per_layer`` entries with ``--trace 1``.  Layers a workload does not run
report 0.
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
WORKLOADS = ("crawl_bulk", "crawl_polite", "corpus_queries")
# the program files the workloads drive; without them there is nothing to run
PROGRAM = (
    "engine/crawl.py",
    "pyref/oracle.py",
    "__spark_entry__.py",
    "analytics/common.py",
    "tools/check_parity.py",
)
RUN_LIMIT_S = 170.0
SAMPLE_S = 0.25
PAGE = os.sysconf("SC_PAGE_SIZE")
SMAPS_MAX_RSS = 1 << 30


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def tree_mem(sid: int) -> int:
    """Memory of the session's processes in bytes.  The forked Python
    workers share most of their pages, so each counts its proportional
    share (``Pss``); the JVM shares nothing with them and counts its
    resident size from ``statm``, because reading its ``smaps`` would walk
    gigabytes of page tables under its memory-map lock."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
            if rss < SMAPS_MAX_RSS:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    rss = next(int(x.split()[1]) * 1024 for x in f if x.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        total += rss
    return total


def stop_session(sid: int) -> None:
    """Kill whatever is left of the run's process tree and wait for it."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while session_pids(sid) and time.time() < deadline:
        time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="run one benchmark workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in PROGRAM + ("BENCHMARK.json",) if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpus = sorted(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    env.pop("SPARK_GRAFT_EPOCH_TIMING", None)
    if args.trace:
        env["SPARK_GRAFT_EPOCH_TIMING"] = "1"
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--cores", str(len(cpus)),
        "--work", work,
        "--out", out,
    ]
    if args.trace:
        cmd += ["--spans", os.path.join(root, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.json")]

    peak = 0
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        while proc.poll() is None:
            if time.time() - t0 > RUN_LIMIT_S:
                print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s", file=sys.stderr)
                break
            if args.trace:
                peak = max(peak, tree_mem(proc.pid))
            time.sleep(SAMPLE_S)
    finally:
        stop_session(proc.pid)
        proc.wait()
    try:
        if proc.returncode != 0:
            print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = result["e2e"]
    if args.trace:
        values = dict(result["layer"], **{f"trace.{k}": v for k, v in values.items()})
        values["trace.peak_mem_mb"] = peak / 1e6
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
