"""Host-side probes: process memory from /proc, Spark's own task metrics
from its status REST API, and the context recorded beside every run."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import threading
import time
import urllib.parse
import urllib.request


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children() -> dict:
    """ppid -> [(pid, comm)] over every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1: st.rindex(")")]
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append((int(d), comm))
    return out


class ProcMonitor:
    """Peak RSS (VmHWM) of this process and every descendant, sampled on a
    background thread. VmHWM is each process's own high-water mark, so a
    sample only has to see a process once while it is alive; the Python side
    is the sum over Python processes of their peaks, the JVM its own peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.python_kb = {}
        self.jvm_kb = {}
        self._stop = threading.Event()
        self._thread = None

    def sample(self):
        kids = _children()
        todo = [(os.getpid(), "python")]
        while todo:
            pid, comm = todo.pop()
            todo.extend(kids.get(pid, ()))
            book = self.jvm_kb if comm == "java" else (
                self.python_kb if comm.startswith("python") else None)
            if book is None:
                continue
            try:
                book[pid] = max(book.get(pid, 0), _hwm_kb(pid))
            except OSError:
                pass  # exited between listing and reading

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self):
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def python_mb(self) -> float:
        return sum(self.python_kb.values()) / 1024.0

    def jvm_mb(self) -> float:
        return sum(self.jvm_kb.values()) / 1024.0


def host_cpu() -> tuple:
    """(steal, total) jiffies over all CPUs from /proc/stat; the share of
    steal between two readings is the time the hypervisor gave to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_share(before: tuple, after: tuple) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


SPARK_FIELDS = {
    "spark.executor_run_ms": ("executorRunTime",),
    "spark.gc_ms": ("jvmGcTime",),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes",),
    "spark.shuffle_read_bytes": ("shuffleReadBytes",),
    "spark.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}


def _get_json(url: str):
    host = urllib.parse.urlparse(url).hostname
    if host not in ("localhost", "127.0.0.1"):
        raise RuntimeError(f"refusing a non-local Spark UI at {host}")
    # no proxy: the status API is this process's own local Spark UI
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(url, timeout=30) as r:
        return json.load(r)


def _finished(sc, groups: list, timeout_s: float):
    """Jobs of ``groups`` and every stage, read from Spark's status API once
    every job of every group has finished (the listener bus runs behind the
    caller)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in _get_json(base + "/jobs") if j.get("jobGroup") in groups]
        stages = {s["stageId"]: s for s in _get_json(base + "/stages")}
        pending = [j for j in jobs if j["status"] == "RUNNING"] + [
            sid for j in jobs for sid in j["stageIds"]
            if stages.get(sid, {}).get("status") == "ACTIVE"]
        if not pending or time.monotonic() > deadline:
            return base, jobs, stages
        time.sleep(0.2)


def _done_stages(jobs: list, stages: dict, group: str) -> list:
    sids = {sid for j in jobs if j.get("jobGroup") == group for sid in j["stageIds"]}
    return [stages[s] for s in sids if stages.get(s, {}).get("status") == "COMPLETE"]


def spark_group_metrics(sc, groups: list, timeout_s: float = 30.0) -> dict:
    """Per job group: jobs, completed stages and tasks, and the summed stage
    metrics of SPARK_FIELDS."""
    _, jobs, stages = _finished(sc, groups, timeout_s)
    out = {}
    for g in groups:
        done = _done_stages(jobs, stages, g)
        m = {"spark.jobs": sum(j.get("jobGroup") == g for j in jobs),
             "spark.stages": len(done),
             "spark.tasks": sum(s["numCompleteTasks"] for s in done)}
        for name, fields in SPARK_FIELDS.items():
            m[name] = sum(s.get(f, 0) for s in done for f in fields)
        out[g] = m
    return out


def spark_task_ms(sc, groups: list, timeout_s: float = 30.0) -> list:
    """Durations in ms of the tasks of each group's heaviest completed stage
    (the one with the most executor run time): the per-task latency of the
    work an op exists for, without the small stages around it."""
    base, jobs, stages = _finished(sc, groups, timeout_s)
    out = []
    for g in groups:
        done = _done_stages(jobs, stages, g)
        if not done:
            continue
        s = max(done, key=lambda s: s.get("executorRunTime", 0))
        tasks = _get_json(f"{base}/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
        out += [t["duration"] for t in tasks if t.get("status") == "SUCCESS"]
    return out


def busy_cpu_share(window_s: float) -> float:
    """CPU time this process got while spinning for ``window_s`` of wall
    time, as a share of it: below 1 when the host or other processes take
    the CPU away."""
    w0, c0 = time.perf_counter(), time.process_time()
    while time.perf_counter() - w0 < window_s:
        sum(range(10_000))
    return (time.process_time() - c0) / (time.perf_counter() - w0)


def wait_quiet(max_wait_s: float = 15.0, min_share: float = 0.9, window_s: float = 1.0):
    """Before a timed section: wait, at most ``max_wait_s``, until a busy
    loop gets at least ``min_share`` of a CPU and ``hostcal.fault_probe`` is
    in its calm range. Returns (waited_s, last share, last probe); a run that
    never gets quiet goes on and records the figures."""
    from tzspark.hostcal import CALM_US_PER_PAGE, fault_probe

    t0 = time.monotonic()
    while True:
        share, probe = busy_cpu_share(window_s), fault_probe()
        waited = time.monotonic() - t0
        if (share >= min_share and probe <= CALM_US_PER_PAGE) or waited >= max_wait_s:
            return waited, share, probe
        time.sleep(window_s)


def source_digest(root: str) -> str:
    """blake2b over tzspark's sources, so a run outside git still names the code."""
    h = hashlib.blake2b(digest_size=8)
    pkg = os.path.join(root, "tzspark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def git_commit(root: str) -> str:
    # the ceiling keeps git from reporting an enclosing repository's commit
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10, env=env)
    except (OSError, subprocess.SubprocessError):
        return "none"
    return r.stdout.strip() if r.returncode == 0 else "none"
