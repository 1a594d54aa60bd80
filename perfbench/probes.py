"""Measurements taken from outside the program: the process tree through
``/proc``, the host's CPU steal through ``/proc/stat``, and Spark through
its public status and plan APIs.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PYTHON_METRICS = {
    "pythonDataSent": "python.data_sent_mb",
    "pythonDataReceived": "python.data_received_mb",
    "pythonNumRowsReceived": "python.rows_received",
    "pythonBootTime": "python.boot_ms",
    "pythonInitTime": "python.init_ms",
    "pythonTotalTime": "python.total_ms",
}
MB = 1024.0 * 1024.0


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields("self")[19]) / CLK_TCK


class ProcessTree:
    """This process and every descendant: the Python driver, the JVM and
    the Python workers it forks."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    parent[int(name)] = int(_stat_fields(name)[1])
                except (OSError, ValueError):
                    continue  # exited while listing
        tree, frontier = [self.root], [self.root]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree += frontier
        return tree

    def cpu_s(self) -> float:
        """User + system CPU of the live tree, plus what its exited and
        reaped children used."""
        total = 0
        for pid in self.pids():
            try:
                f = _stat_fields(pid)
            except OSError:
                continue
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return total / CLK_TCK

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1])
            except OSError:
                continue
        return total / 1024.0


class HostCpu:
    """Host-wide CPU counters from ``/proc/stat``; steal is the time the
    hypervisor ran someone else while this guest wanted the CPU."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]

    def steal_pct(self) -> float:
        now = self._read()
        delta = [b - a for a, b in zip(self.start, now)]
        return 100.0 * delta[7] / max(1, sum(delta))


class SparkCounters:
    """Application-wide job and stage counters.

    Job and stage ids are allocated from one counter each per application,
    so the ids created between two reads are exactly the jobs and stages
    submitted in between, whatever thread or job group submitted them.
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def ids(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stages(self, first: int, end: int, detail: bool) -> dict:
        """Stages ``first <= id < end`` as recorded by the status store:
        how many ran, how many were skipped (their output was reused), the
        tasks they ran and, with ``detail``, their executor metrics."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(("stages", "stages_skipped", "tasks"), 0)
        if detail:
            out.update(
                dict.fromkeys(
                    ("exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
                     "exec.shuffle_read_mb", "exec.shuffle_write_mb",
                     "exec.spill_mb", "exec.output_mb"),
                    0.0,
                )
            )
        for sid in range(first, end):
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            if detail:
                out["exec.executor_run_s"] += st.executorRunTime() / 1e3
                out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["exec.gc_s"] += st.jvmGcTime() / 1e3
                out["exec.shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["exec.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                out["exec.output_mb"] += st.outputBytes() / MB
        return out


def catalyst_ms(jdf) -> dict:
    """Analysis, optimization and planning time of the action's query."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def python_metrics(jdf) -> dict:
    """Arrow/Python island metrics summed over the executed plan, walking
    the final adaptive plan down through its query stages."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        for name, key in PYTHON_METRICS.items():
            opt = metrics.get(name)
            if opt.isDefined():
                value = float(opt.get().value())
                out[key] += value / MB if key.endswith("_mb") else value
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def stream_metrics(query, input_bytes: int, out_dir: str) -> dict:
    """Micro-batch counters of a finished streaming query, and the bytes it
    left under ``out_dir`` (sink and checkpoint) per input byte."""
    progress = [p for p in query.recentProgress if p.numInputRows > 0]

    def dur(key: str) -> int:
        return sum(p.durationMs.get(key, 0) for p in progress)

    rows = sum(p.numInputRows for p in progress)
    written = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(out_dir)
        for f in files
    )
    return {
        "stream.batches": float(len(progress)),
        "stream.add_batch_ms": float(dur("addBatch")),
        "stream.query_planning_ms": float(dur("queryPlanning")),
        "stream.wal_commit_ms": float(dur("walCommit")),
        "stream.input_rows_per_s": rows / max(1e-9, dur("triggerExecution") / 1e3),
        "stream.write_amp": written / max(1, input_bytes),
    }
