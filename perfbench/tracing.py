"""Measurement plumbing that sits outside the evlake package.

- :class:`Tracer` keeps spans (name, start, end, parent) in memory. While a
  span is open the Spark job group is the span's id, so every Spark job
  can be charged to the innermost span that launched it.
- :func:`instrument` wraps evlake's public functions in spans by patching
  module attributes; :meth:`Patches.restore` undoes it.
- :class:`Py4jCounter` wraps py4j's send path to count JVM round trips and
  the time Python blocks in them.
- :func:`parse_event_log` reads a Spark event log (uncompressed, rolling
  ``eventlog_v2_*`` directories or single files) into jobs, stages and SQL
  executions; :func:`job_scans` and :func:`engine_totals` fold them.
- :class:`CpuMeter`, :func:`peak_rss_mb`, :func:`host_steal_share` and
  :func:`file_sizes` read ``/proc`` and the file system directly (psutil is
  not available).

Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # time.time() at entry, to line up with event-log clocks
    t1: float = 0.0
    children: list[int] = field(default_factory=list)
    failed: bool = False
    #: counters recorded by hooks, summed per span name in the layer report
    attrs: dict = field(default_factory=dict)
    #: a hook's state between entry and exit
    scratch: object = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is optional: with
    it, entering a span sets the job group to ``pb<sid>`` and leaving it
    restores the parent's group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.own_s = 0.0

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{sid}", self.spans[sid - 1].name)

    @contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent, 0.0)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent - 1].children.append(sp.sid)
        self._stack.append(sp.sid)
        self._set_group(sp.sid)
        sp.t0 = time.time()
        self.own_s += time.perf_counter() - c0
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.t1 = time.time()
            c1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.own_s += time.perf_counter() - c1

    def self_time(self, sp: Span) -> float:
        """Duration minus the union of the children's intervals."""
        return sp.dur - _union_len(
            [(self.spans[c - 1].t0, self.spans[c - 1].t1) for c in sp.children],
            sp.t0,
            sp.t1,
        )

    def dump(self, out) -> None:
        """Write every span as one JSON line to the text stream ``out``."""
        for s in self.spans:
            out.write(
                json.dumps({"span": s.sid, "name": s.name, "parent": s.parent, "start": s.t0, "end": s.t1})
                + "\n"
            )


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Patches:
    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, tracer: Tracer, name: str, hook=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``hook(span, args,
        kwargs, done)`` runs inside the span before (``done=False``) and
        after the call, to record counters on ``span.attrs``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                if hook is not None:
                    hook(sp, args, kwargs, False)
                result = orig(*args, **kwargs)
                if hook is not None:
                    hook(sp, args, kwargs, True)
                return result

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def _arg(args, kwargs, pos: int, name: str):
    return kwargs[name] if name in kwargs else args[pos]


def _disk_hook(pos: int, name: str, sub: str = "", suffix: str = "", **attrs: str):
    """A hook that diffs the files under the call's ``name`` argument (plus
    ``sub``) across the call and records ``attrs``: span attribute ->
    :func:`size_delta` key."""

    def hook(sp, args, kwargs, done):
        sizes = file_sizes([os.path.join(_arg(args, kwargs, pos, name), sub)], suffix)
        if not done:
            sp.scratch = sizes
            return
        delta = size_delta(sp.scratch, sizes)
        sp.attrs.update({attr: delta[key] for attr, key in attrs.items()})

    return hook


def _local_df_hook(sp, args, kwargs, done):
    if not done:
        data = _arg(args, kwargs, 1, "data")
        sp.attrs["rows"] = len(data) if hasattr(data, "__len__") else 0


#: snaptable public operations the workloads reach, directly or via gold
SNAPTABLE_OPS = [
    "create_table", "append", "overwrite_partitions", "merge_into",
    "delete_where", "update_where", "read_snapshot", "changes",
    "register_snapshot_view",
]


def instrument(tracer: Tracer) -> Patches:
    """Wrap evlake's public entry points, each under ``<layer>.<function>``.

    A function imported by name into another module is patched there too,
    because that module calls its own reference.
    """
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.functions import localframe
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.operators import gold, quality, silver
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark.sources import readers, snaptable, writers

    p = Patches()
    p.wrap(readers, "read_bronze_csv", tracer, "readers.read_bronze_csv")
    p.wrap(writers, "write_partitioned_parquet", tracer, "writers.write_partitioned_parquet",
           _disk_hook(1, "path", suffix=".parquet", files="files_added", bytes="bytes_added"))
    p.wrap(silver, "clean_sessions", tracer, "silver.clean_sessions")
    p.wrap(silver, "run_silver", tracer, "silver.run_silver")
    p.wrap(quality.VerificationSuite, "run", tracer, "quality.verify")
    p.wrap(silver, "split_good_bad", tracer, "quality.split")
    p.wrap(gold, "run_gold", tracer, "gold.run_gold")
    for op in SNAPTABLE_OPS:
        p.wrap(snaptable, op, tracer, f"snaptable.{op}")
    p.wrap(snaptable, "optimize", tracer, "snaptable.optimize",
           _disk_hook(1, "table", suffix=".parquet", bytes_rewritten="bytes_added"))
    p.wrap(snaptable, "vacuum", tracer, "snaptable.vacuum", _disk_hook(0, "table", bytes_reclaimed="bytes_removed"))
    p.wrap(snaptable, "_commit", tracer, "snaptable.commit",
           _disk_hook(0, "table", "_snapshots", manifest_bytes="bytes_added"))
    for mod in (localframe, snaptable):
        p.wrap(mod, "local_df", tracer, "localframe.local_df", _local_df_hook)
    return p


class Py4jCounter:
    """Counts py4j commands and the wall time Python blocks on them, by
    wrapping ``send_command`` of both py4j connection classes."""

    def __init__(self):
        self.calls = 0
        self.busy_s = 0.0
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            counter = self

            def send_command(conn, command, *a, _orig=orig, **kw):
                t = time.perf_counter()
                try:
                    return _orig(conn, command, *a, **kw)
                finally:
                    counter.calls += 1
                    counter.busy_s += time.perf_counter() - t

            self._saved.append((cls, orig))
            cls.send_command = send_command

    def restore(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


def _vmhwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    kb = _vmhwm_kb(os.getpid()) + (_vmhwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str) -> int:
    with open(stat_path, encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime, all threads


class CpuMeter:
    """CPU seconds the Python process and its JVM spend, split into JIT
    compilation (the JVM's C1/C2 compiler threads) and the rest.

    On a shared host, CPU time moves far less with other tenants' load than
    wall time does; with JIT time apart it also moves less as the JVM warms
    up. Compiler time is summed per thread id between samples, so a
    compiler thread that ends loses at most its last interval.
    """

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self._jit_seen: dict[str, int] = {}
        self._jit_total = 0
        self.sample()

    def _jit_ticks(self) -> int:
        task_dir = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm", encoding="ascii") as f:
                    if not f.read().startswith(self.JIT_THREADS):
                        continue
                ticks = _ticks(f"{task_dir}/{tid}/stat")
            except OSError:
                continue  # the thread ended since listdir
            self._jit_total += ticks - self._jit_seen.get(tid, 0)
            self._jit_seen[tid] = ticks
        return self._jit_total

    def sample(self) -> tuple[float, float]:
        """(work seconds, JIT seconds), cumulative since the JVM started."""
        total = _ticks("/proc/self/stat") + _ticks(f"/proc/{self.jvm}/stat")
        jit = self._jit_ticks()
        return (total - jit) / _CLK_TCK, jit / _CLK_TCK


def host_steal_share(before: list[int], after: list[int]) -> float:
    """Share of busy CPU time the hypervisor gave to other tenants between
    two :func:`cpu_ticks` samples."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def file_sizes(dirs, suffix: str = "") -> dict[str, int]:
    """Path -> size of every file under ``dirs`` whose name ends in ``suffix``."""
    out = {}
    for top in dirs:
        for dirpath, _dirs, files in os.walk(top):
            for f in files:
                if f.endswith(suffix):
                    path = os.path.join(dirpath, f)
                    try:
                        out[path] = os.lstat(path).st_size
                    except OSError:
                        pass
    return out


def size_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Files that appeared, bytes of files that appeared or grew, and bytes
    of files that went away."""
    return {
        "files_added": sum(p not in before for p in after),
        "bytes_added": sum(max(0, n - before.get(p, 0)) for p, n in after.items()),
        "bytes_removed": sum(n for p, n in before.items() if p not in after),
    }


def dir_bytes(path: str) -> int:
    return sum(file_sizes([path]).values())


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    t0: float
    t1: float = 0.0
    group: str | None = None
    sql_id: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageMetrics:
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    rdd_names: set = field(default_factory=set)
    accum_ids: set = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageMetrics] = field(default_factory=lambda: defaultdict(StageMetrics))
    sql: dict[int, list[float]] = field(default_factory=dict)
    #: SQL metric accumulator ids of file-scan nodes, by scan node name
    scan_accums: dict[int, str] = field(default_factory=dict)


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: a rolling ``eventlog_v2_*`` directory
    holds ``events_<n>_<app>`` parts next to an empty status marker."""
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for f in files:
            if not f.startswith("appstatus") and not f.endswith(".crc"):
                out.append(os.path.join(dirpath, f))

    def order(p: str):
        base = os.path.basename(p)
        part = int(base.split("_")[1]) if base.startswith("events_") else 0
        return (os.path.dirname(p), part)

    return sorted(out, key=order)


def _scan_nodes(plan: dict, out: dict[int, str]) -> None:
    name = plan.get("nodeName", "")
    if name.startswith("Scan "):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = name
    for child in plan.get("children", []):
        _scan_nodes(child, out)


def parse_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sql_id = props.get("spark.sql.execution.id")
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        group=props.get("spark.jobGroup.id"),
                        sql_id=int(sql_id) if sql_id is not None else None,
                        stages=list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.t1 = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages[ev["Stage ID"]]
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Update") not in (None, 0, "0"):
                            st.accum_ids.add(acc.get("ID"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info") or {}
                    st = log.stages[info.get("Stage ID")]
                    st.rdd_names.update(r.get("Name", "") for r in info.get("RDD Info", []))
                elif kind.endswith("SQLExecutionStart"):
                    log.sql[ev["executionId"]] = [ev["time"] / 1000.0, 0.0]
                    _scan_nodes(ev.get("sparkPlanInfo") or {}, log.scan_accums)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _scan_nodes(ev.get("sparkPlanInfo") or {}, log.scan_accums)
                elif kind.endswith("SQLExecutionEnd"):
                    rec = log.sql.get(ev["executionId"])
                    if rec is not None:
                        rec[1] = ev["time"] / 1000.0
    return log


def job_scans(log: EventLog, job: Job, prefixes: tuple[str, ...]) -> bool:
    """True if ``job`` actually scanned a file source whose scan node name
    starts with one of ``prefixes`` (e.g. ``"Scan csv"``): a task updated
    that node's metrics. Jobs outside SQL (schema inference runs an RDD
    aggregate) count when a stage of theirs ran a ``FileScanRDD``."""
    ids = {a for a, n in log.scan_accums.items() if n.startswith(prefixes)}
    for sid in job.stages:
        st = log.stages.get(sid)
        if st is None or not st.tasks:
            continue
        if st.accum_ids & ids:
            return True
        if job.sql_id is None and "FileScanRDD" in st.rdd_names:
            return True
    return False


@dataclass
class EngineTotals:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_s: float = 0.0
    sql_outside_jobs_s: float = 0.0
    outside_sql_s: float = 0.0


def engine_totals(log: EventLog, jobs: list[Job], windows: list[tuple[float, float]]) -> EngineTotals:
    """Counts over ``jobs`` and time splits over ``windows``: the union of
    job time, SQL-execution time outside jobs, and time outside any SQL
    execution, each clipped to the windows."""
    t = EngineTotals()
    for job in jobs:
        t.jobs += 1
        for sid in job.stages:
            st = log.stages.get(sid)
            if st is None:
                continue
            t.tasks += st.tasks
            t.executor_cpu_s += st.cpu_s
            t.gc_s += st.gc_s
            t.input_bytes += st.input_bytes
            t.shuffle_write_bytes += st.shuffle_write_bytes
            t.spill_bytes += st.spill_bytes
    job_iv = [(j.t0, j.t1) for j in log.jobs.values() if j.t1]
    sql_iv = [tuple(v) for v in log.sql.values() if v[1]]
    for lo, hi in windows:
        in_jobs = _union_len(job_iv, lo, hi)
        in_either = _union_len(job_iv + sql_iv, lo, hi)
        t.job_s += in_jobs
        t.sql_outside_jobs_s += max(0.0, in_either - in_jobs)
        t.outside_sql_s += (hi - lo) - in_either
    return t
