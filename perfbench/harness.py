"""Measurement plumbing shared by the workloads: host facts, peak RSS of
the process tree, the benchmark's Spark session, spans, and the Spark
event-log rollup per span."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")

# ---------------------------------------------------------------- host

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def host_facts() -> dict:
    """nproc (CPU affinity), MemTotal, loadavg and the /proc/stat CPU
    counters, taken once at the start of a run."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "loadavg": load,
            "_cpu0": _cpu_times()}


def finish_host_facts(facts: dict) -> dict:
    """Add the share of CPU time stolen by the hypervisor over the run
    (field 8 of the /proc/stat cpu line) and the end-of-run loadavg."""
    c0, c1 = facts.pop("_cpu0"), _cpu_times()
    d = [b - a for a, b in zip(c0, c1)]
    total = sum(d[:8]) or 1
    with open("/proc/loadavg") as f:
        facts["loadavg_end"] = [float(v) for v in f.read().split()[:3]]
    facts["steal_ratio"] = round(d[7] / total, 6) if len(d) > 7 else 0.0
    return facts


def _proc_tree() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name, for this
    process and all its descendants (the Spark JVM, its Python workers)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # process ended between listdir and open
            continue
        stats[int(d)] = fields
        children.setdefault(int(fields[1]), []).append(int(d))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and its live descendants.  Time the hypervisor
    steals from the guest is not in it."""
    return sum(sum(int(v) for v in f[11:15])  # utime stime cutime cstime
               for f in _proc_tree().values()) / CLK_TCK


class RssSampler:
    """Memory of this process and its descendants, polled from /proc: the
    peak of their summed RSS, and each process's own peak (the kernel's
    VmHWM) by command name."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self.hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in _proc_tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    st = dict(line.split(":", 1) for line in f)
            except OSError:
                continue
            if "VmRSS" not in st:
                continue
            total += int(st["VmRSS"].split()[0]) * 1024
            hwm = int(st["VmHWM"].split()[0]) * 1024
            if hwm > self.hwm.get(pid, ("", 0))[1]:
                self.hwm[pid] = (st["Name"].strip(), hwm)
        self.peak_bytes = max(self.peak_bytes, total)

    def hwm_by_name(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for name, b in self.hwm.values():
            out[name] = out.get(name, 0) + b
        return out

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------- session

def start_session(work_dir: str, nproc: int, mem_total_mb: int,
                  event_log_dir: str | None):
    """The benchmark's own session: local[nproc] through the engine's
    session factory, console progress off, driver heap an eighth of
    MemTotal (1-4 GiB), every scratch file inside ``work_dir`` (the
    caller points SPARK_LOCAL_DIRS there too).  The event log is on only
    for traced runs."""
    from tilemaker_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = max(1024, min(4096, mem_total_mb // 8))
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- spans

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.  A span
    sets the Spark job group, so the event log can be split per span."""

    def __init__(self, run_id: str, sc):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}/{sid}/{name}",
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}/untraced", "untraced")

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


# ----------------------------------------------------------- event log

def task_metrics_by_group(event_log_dir: str) -> dict[str, dict]:
    """Parse the (stopped) application's event log into per-job-group
    task metrics: summed executor run time, shuffle bytes written, bytes
    spilled to disk, and the max/median task time of the group's
    busiest stage."""
    files = [p for p in glob.glob(os.path.join(event_log_dir, "*"))
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")]
    stage_group: dict[int, str] = {}
    stage_tasks: dict[tuple[str, int], list[float]] = {}
    acc: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    g = stage_group.get(e["Stage ID"])
                    a = acc.setdefault(g, {"task_s": 0.0, "shuffle_write_b": 0,
                                           "spill_b": 0})
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    a["task_s"] += run_s
                    a["shuffle_write_b"] += (m.get("Shuffle Write Metrics")
                                             or {}).get("Shuffle Bytes Written", 0)
                    a["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    stage_tasks.setdefault((g, e["Stage ID"]), []).append(run_s)
    for g, a in acc.items():
        stages = [ts for (sg, _), ts in stage_tasks.items() if sg == g]
        busiest = max(stages, key=sum) if stages else []
        med = statistics.median(busiest) if busiest else 0.0
        a["task_skew"] = (max(busiest) / med) if med > 0 else 1.0
    return acc
