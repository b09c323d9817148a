"""Box-level measurements: process-tree memory, the compiled-regex box
probe, Spark's event log and the Python UDF profiler's output."""

from __future__ import annotations

import gc
import glob
import json
import multiprocessing as mp
from multiprocessing import resource_tracker
import os
import pstats
import statistics
import threading
import time
from contextlib import contextmanager


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> set[int]:
    """Live (not zombie) processes below ``root``."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[0] != "Z":
                parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, ValueError, IndexError):
            continue  # the process exited while we listed it
    tree: set[int] = set()
    frontier = [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, ValueError, IndexError, StopIteration):
            continue  # exited, or a kernel thread
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM and the Python workers) until closed. Each process counts
    its proportional share (PSS), so pages the forked Python workers share
    are counted once."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self._interval)

    def close(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stops the session, then the driver JVM (it exits when its stdin
    closes), and waits until every process this one started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# --- box probe -------------------------------------------------------------


def _probe_work(args) -> int:
    from logparserhelper_spark.banks import get_compiled_bank

    spec, texts = args
    cb = get_compiled_bank(spec)
    return sum(len(cb.extract(t)) for t in texts)


@contextmanager
def spawn_pool(n: int):
    """A pool of ``n`` spawned processes, ended and waited for on exit."""
    pool = mp.get_context("spawn").Pool(n)
    try:
        yield pool
    finally:
        pool.close()
        pool.join()
        # the spawn pool started multiprocessing's resource tracker: release
        # the pool's semaphores, then end the tracker now rather than at exit
        # (there is no public API for the latter)
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()


def box_probe(n_rows: int = 20000) -> dict:
    """Compiled-regex rows/s of this machine in plain Python, at 1 process
    and at nproc processes (spawned, warmed before timing). ``box_eff`` near
    1.0 means the cores were free; compare benchmark numbers from different
    sessions only next to this probe."""
    from logparserhelper_spark.defaults import default_pattern_bank

    spec = default_pattern_bank().spec()
    texts = [
        f"turn {i}: at 2025-06-{i % 28 + 1:02d}T0{i % 10}:1{i % 6}:2{i % 9} "
        f"tool={i % 7} value {i * 37 % 1000} ok"
        for i in range(n_rows)
    ]
    n = len(os.sched_getaffinity(0))
    rates = {}
    with spawn_pool(n) as pool:
        pool.map(_probe_work, [(spec, texts[:1])] * n, chunksize=1)  # import + compile everywhere
        for procs in (1, n):
            t0 = time.monotonic()
            pool.map(_probe_work, [(spec, texts[i::procs]) for i in range(procs)], chunksize=1)
            rates[procs] = n_rows / (time.monotonic() - t0)
    return {
        "procs": n,
        "rows_per_s_1p": round(rates[1]),
        "rows_per_s_np": round(rates[n]),
        "box_eff": round(rates[n] / rates[1] / n, 3),
    }


# --- Spark event log and UDF profiler --------------------------------------


def fold_event_log(log_dir: str, label_for) -> dict[str, dict]:
    """Task metrics from the session's event log, folded per job label,
    ``label_for(job description or None, submission epoch ms)``: jobs the
    package submits from its own threads carry no description, so a label
    can also come from the benchmark span open when the job started."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    job_label: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict] = {}
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    job_label[ev["Job ID"]] = label_for(desc, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    label = job_label.get(stage_job.get(ev.get("Stage ID"), -1), "(none)")
                    agg = out.setdefault(
                        label,
                        {"tasks": 0, "tasks_failed": 0, "task_s": 0.0,
                         "shuffle_write_bytes": 0, "spill_bytes": 0, "stage_task_s": {}},
                    )
                    tm = ev.get("Task Metrics") or {}
                    run_s = tm.get("Executor Run Time", 0) / 1000
                    agg["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        agg["tasks_failed"] += 1
                    agg["task_s"] += run_s
                    agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    agg["stage_task_s"].setdefault(ev["Stage ID"], []).append(run_s)
    return out


def task_skew(folded: dict) -> float:
    """max / median task time of the stage with the most task time."""
    stages = folded.get("stage_task_s") or {}
    if not stages:
        return 0.0
    times = max(stages.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


def udf_body_s(spark, dump_dir: str) -> float:
    """Total time inside Python UDF bodies recorded by Spark's perf UDF
    profiler since its last clear, summed over workers."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for p in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(p).total_tt
        os.remove(p)
    return total
