"""Measurement helpers: percentiles, memory, Spark status-store and
streaming-progress collectors, and the span recorder of the traced run.

All of it observes the engine from outside: it reads Spark's own
``AppStatusStore`` (stage metrics, attributed to the job group the
benchmark sets around each span) and a ``StreamingQueryListener``;
nothing here reaches into the package's code.
"""

from __future__ import annotations

import json
import math
import os
import resource
import time
from contextlib import contextmanager

#: StageData fields summed per span, as (metric name, getter name, scale).
STAGE_FIELDS = (
    ("busy_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_rows", "inputRecords", 1),
    ("output_bytes", "outputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("memory_spill_bytes", "memoryBytesSpilled", 1),
    ("disk_spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def _stat_fields(stat: str) -> tuple[int, list[str]]:
    """(ppid, fields after the command name) of a /proc stat line."""
    fields = stat[stat.rindex(")") + 2 :].split()
    return int(fields[1]), fields


#: JVM threads left out of the CPU figure, by a part of the name the
#: kernel shows for them: the JIT compilers and the G1 collector's workers.
JVM_SERVICE_THREADS = ("CompilerThre", "GC Thread", "G1 ")


def _service_ticks(pid: int) -> int:
    """CPU ticks of the ``JVM_SERVICE_THREADS`` of JVM ``pid``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread exited while we listed it
            continue
        name = stat[stat.index("(") : stat.rindex(")")]
        if any(part in name for part in JVM_SERVICE_THREADS):
            total += sum(int(x) for x in _stat_fields(stat)[1][11:13])
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with those of reaped children) of this
    process and all its descendants: the driver Python, the JVM and the
    JVM's Python workers, less the JVM's JIT compiler and GC threads.

    With paravirtual time accounting the kernel leaves out time the
    hypervisor stole from the vCPU, so the figure does not move with load
    from other guests the way wall time does. JIT compilation is left out
    because it is warm-up that ends at a different point in every run; the
    JVM is started with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``) so none exits and takes
    its ticks into the process total unseen. GC work is left out because
    the collector sizes the heap from its own pause times, which move with
    the host's load; GC pauses stay in the wall-clock figures, and GC time
    is reported per layer (``spark.gc_s``)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        ppid, fields = _stat_fields(stat)
        children.setdefault(ppid, []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        if stat[stat.index("(") + 1 : stat.rindex(")")] == "java":
            ticks[int(name)] -= _service_ticks(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal() -> tuple[int, int]:
    """(busy, stolen) ticks summed over every CPU since boot, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq + steal,
    the time the vCPUs wanted to run; stolen is the hypervisor's share."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def unstolen_s(wall: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``wall`` seconds less the share of them the hypervisor stole: the
    stolen share of the vCPUs' busy time between the two ``cpu_steal``
    readings. Idle waits stay in the figure; time the host gave to other
    guests does not."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return wall * (1.0 - stolen / busy) if busy > 0 else wall


def retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after full collections, in MiB:
    what the session keeps between queries (cached plans and blocks,
    status store, streaming state). Three collections a second apart, so
    that Spark's ContextCleaner can drop the shuffle and broadcast blocks
    of objects the earlier ones freed. Unlike the peak footprint, this does
    not depend on how far the collector let the heap grow."""
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(1.0)
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (``VmHWM``) plus that of this
    Python process (``ru_maxrss``), in MiB. The heap is not pre-touched,
    so the figure follows how far the collector grew it."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


class StatusStore:
    """Stage metrics per job from Spark's ``AppStatusStore``, read once.

    ``stageList`` takes five arguments in Spark 4 (statuses, details,
    withSummaries, unsortedQuantiles, taskStatuses); empty lists select
    every stage. It works with the UI disabled.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gateway = sc._gateway
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def jobs(self) -> list[tuple[int, str | None, float, list[int]]]:
        """(job id, job group, submission epoch seconds, stage ids) of every
        job, once the asynchronous listener bus has delivered all events."""
        self.jsc.listenerBus().waitUntilEmpty()
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            sub = j.submissionTime().get().getTime() / 1000.0 if j.submissionTime().isDefined() else 0.0
            ids = j.stageIds()
            out.append((j.jobId(), group, sub, [ids.apply(k) for k in range(ids.size())]))
        return out

    def stages(self) -> dict[int, dict[str, float]]:
        no_quantiles = self.gateway.new_array(self.jvm.double, 0)
        seq = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False, no_quantiles, self.jvm.java.util.ArrayList()
        )
        out = {}
        for i in range(seq.size()):
            st = seq.apply(i)
            out[st.stageId()] = {name: getattr(st, getter)() * scale for name, getter, scale in STAGE_FIELDS}
        return out


class StreamingCollector:
    """Totals over every micro-batch progress event of the session: the
    drain (``triggerExecution``) and commit (offset log and commit log)
    times, batches, input rows, and state rows and bytes summed over
    batches."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        totals = self.totals = {
            "batches": 0, "input_rows": 0, "drain_s": 0.0, "commit_s": 0.0,
            "state_rows": 0, "state_bytes": 0, "terminated": 0,
        }

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                dur = p.durationMs or {}
                totals["batches"] += 1
                totals["input_rows"] += p.numInputRows
                totals["drain_s"] += dur.get("triggerExecution", 0) / 1000.0
                totals["commit_s"] += (dur.get("commitOffsets", 0) + dur.get("walCommit", 0)) / 1000.0
                for op in p.stateOperators:
                    totals["state_rows"] += op.numRowsTotal
                    totals["state_bytes"] += op.memoryUsedBytes

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                totals["terminated"] += 1

        self.listener = Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def per_run(self) -> dict[str, float]:
        """Totals per streaming query run, once the listener bus has
        delivered every event (it calls the Python listener in turn)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runs = max(1, self.totals["terminated"])
        return {k: v / runs for k, v in self.totals.items() if k != "terminated"}

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


class Tracer:
    """Spans around calls into the package, one Spark job group each.

    A span records (name, start, end, parent, run id) in memory. Spark's
    jobs are attributed to spans once, after the run (``attribute``): by
    job group, or for streaming micro-batches, which run under their
    query's own group, by submission time. ``write`` dumps the spans.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: wall time spent opening and closing spans: the tracing overhead
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name, "run_id": self.run_id, "id": idx, "group": f"{self.run_id}-{idx}",
            "parent": self._stack[-1] if self._stack else None,
        }
        t0 = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec["group"], name)
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def attribute(self) -> None:
        """Fill ``rec["spark"]`` of every span with the jobs, stages and
        summed stage metrics of the jobs it (or a span inside it) ran."""
        by_group = {rec["group"]: rec for rec in self.spans}
        stages = self.store.stages()
        for rec in self.spans:
            rec["spark"] = {name: 0.0 for name, _, _ in STAGE_FIELDS}
            rec["spark"].update(jobs=0.0, stages=0.0)
        for _, group, submitted, stage_ids in self.store.jobs():
            rec = by_group.get(group) or self._innermost_at(submitted)
            while rec is not None:
                tot = rec["spark"]
                tot["jobs"] += 1
                for sid in stage_ids:
                    if sid in stages:
                        tot["stages"] += 1
                        for k, v in stages[sid].items():
                            tot[k] += v
                rec = self.spans[rec["parent"]] if rec["parent"] is not None else None

    def _innermost_at(self, t: float) -> dict | None:
        inside = [r for r in self.spans if r["wall_start"] <= t <= r.get("wall_end", t)]
        return inside[-1] if inside else None

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]
