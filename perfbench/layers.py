"""Layer instruments, kept outside the program: timed subclasses of
``CdcPipeline`` and ``ParquetSink``, Spark job tags set around their
calls, a roll-up of the in-process status store by tag, and spans.

Tags use ``SparkContext.addJobTag`` (the thread-local ``spark.job.tags``
property): each fan-out thread of the pipeline's ``ThreadPoolExecutor``
is pinned to its own JVM thread, so one thread's tag never leaks onto
another's jobs, and the streaming engine's own job group (which
``StreamingQuery.stop`` cancels by) is left untouched.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from cdc_redshift_spark.sinks.parquet_sink import ParquetSink
from cdc_redshift_spark.streaming.pipeline import CdcPipeline

TAG_PREFIX = "pb"


@contextmanager
def job_tag(sc, tag: str):
    """Run the block with exactly ``tag`` on this thread's jobs, then
    restore the thread's previous tags."""
    saved = sc.getJobTags()
    sc.clearJobTags()
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.clearJobTags()
        for t in saved:
            sc.addJobTag(t)


class Batch:
    """What one committed micro-batch did, as seen from outside."""

    def __init__(self, batch_id: int, t0: float):
        self.batch_id = batch_id
        self.files: list[str] = []
        self.t0 = t0
        self.t1 = t0  # process_batch returned
        self.applies: list[dict] = []
        self.reads: list[dict] = []
        self.jvm_cpu_ns = 0  # JVM and driver Python CPU when the batch ended
        self.py_cpu_s = 0.0
        self.jobs: dict[str, dict] = {}  # tag -> spark counts (traced)


class Recorder:
    """Shared state of one run: the setup batches still to drain, the
    timed window, the batches committed in it, the deadline, and (traced
    runs) the status-store roll-up."""

    def __init__(self, spark, traced: bool, setup_batches: int, seconds: float):
        self.sc = spark.sparkContext
        self.lock = threading.Lock()
        self.setup_left = setup_batches
        self.setup_end = None  # when the last setup batch returned
        self.seconds = seconds
        self.timing = False
        self.deadline = float("inf")
        self.cpu0 = (0, 0.0)  # (JVM ns, Python s) at the first timed batch
        self.stopping = threading.Event()
        self.batches: list[Batch] = []
        self.cur: Batch | None = None
        self.skipped = 0
        self.stream_session = None
        self.after_seed = None  # called once the seed batch has committed
        self.read_fn = None  # called after every commit when set
        self.after_batch = None  # traced runs: inspect the commit
        self.trace_s = 0.0  # time spent inside tracing code
        self.store = StatusStore(self.sc) if traced else None
        # getProcessCpuTime lives on the com.sun.management interface,
        # which py4j cannot see through the JDK-internal bean class
        jvm, gw = self.sc._jvm, self.sc._gateway
        iface = jvm.java.lang.Class.forName("com.sun.management.OperatingSystemMXBean")
        self._cpu_args = (
            jvm.java.lang.management.ManagementFactory.getOperatingSystemMXBean(),
            gw.new_array(jvm.java.lang.Object, 0),
        )
        self._cpu_method = iface.getMethod("getProcessCpuTime", gw.new_array(jvm.java.lang.Class, 0))

    def jvm_cpu_ns(self) -> int:
        return int(self._cpu_method.invoke(*self._cpu_args))

    def start_timing(self) -> None:
        if self.store is not None:
            self.store.mark()
        self.cpu0 = (self.jvm_cpu_ns(), time.process_time())
        self.deadline = time.time() + self.seconds
        self.timing = True


class TimedPipeline(CdcPipeline):
    """``process_batch`` timed from outside; jobs of the batch's own
    thread (parse, normalize, LWW, routing collect) tagged ``pipe``.

    The first ``setup_batches`` micro-batches (seed and warm-up) run
    untimed; the window opens with the next one and closes after the
    first batch that ends past the deadline.  Later triggers are
    skipped, so the caller can stop the query at any point."""

    def __init__(self, *a, rec: Recorder, **kw):
        super().__init__(*a, **kw)
        self.rec = rec

    def process_batch(self, raw, batch_id: int) -> None:
        rec = self.rec
        if rec.setup_left > 0:
            rec.stream_session = raw.sparkSession
            super().process_batch(raw, batch_id)
            if rec.after_seed is not None:
                rec.after_seed()
                rec.after_seed = None
            rec.setup_left -= 1
            if rec.setup_left == 0:
                rec.setup_end = time.time()
            return
        if rec.stopping.is_set():
            rec.skipped += 1
            return
        if not rec.timing:
            rec.start_timing()
        b = Batch(batch_id, time.time())
        rec.cur = b
        with job_tag(rec.sc, f"{TAG_PREFIX}-pipe-{batch_id}"):
            super().process_batch(raw, batch_id)
        b.t1 = time.time()
        if rec.after_batch is not None:
            t = time.perf_counter()
            rec.after_batch(b)
            rec.trace_s += time.perf_counter() - t
        if rec.read_fn is not None:
            b.reads = rec.read_fn(batch_id)
        b.jvm_cpu_ns, b.py_cpu_s = rec.jvm_cpu_ns(), time.process_time()
        if rec.store is not None:
            t = time.perf_counter()
            b.jobs = rec.store.rollup()
            rec.trace_s += time.perf_counter() - t
        rec.batches.append(b)
        rec.cur = None
        if time.time() >= rec.deadline:
            rec.stopping.set()


class TimedSink(ParquetSink):
    """``apply_changeset`` timed per table, its jobs tagged ``apply``."""

    rec: Recorder | None = None
    _plan = threading.local()  # (strategy, plan, seconds) of this thread's apply

    def _merge_strategy(self, db, table, target, changes) -> str:
        t = time.perf_counter()
        strategy = super()._merge_strategy(db, table, target, changes)
        # last_merge_plan is per sink, so a concurrent apply may
        # overwrite it before this read: observability only, like the
        # sink's own
        self._plan.v = (strategy, self.last_merge_plan, time.perf_counter() - t)
        return strategy

    def apply_changeset(self, db: str, table: str, changes) -> None:
        b = self.rec.cur if self.rec is not None else None
        if b is None:
            super().apply_changeset(db, table, changes)
            return
        rec = self.rec
        tag = f"{TAG_PREFIX}-apply-{b.batch_id}-{db}.{table}"
        self._plan.v = ("shuffle", None, 0.0)
        t0 = time.time()
        with job_tag(rec.sc, tag):
            super().apply_changeset(db, table, changes)
        t1 = time.time()
        strategy, plan, plan_s = self._plan.v
        with rec.lock:
            b.applies.append(
                {
                    "table": f"{db}.{table}",
                    "tag": tag,
                    "t0": t0,
                    "t1": t1,
                    "priced": bool(plan) and not plan.get("under_floor"),
                    "broadcast": strategy == "broadcast",
                    "plan_s": plan_s,
                }
            )


def version_files(sink: ParquetSink, db: str, table: str) -> tuple[int, int, int]:
    """(files written, bytes written, files hard-linked) of the table's
    current snapshot: a file with one link was written by this commit."""
    v = sink._latest_version(db, table)
    root = os.path.join(sink._dir(db, table), f"v{v}")
    written = nbytes = linked = 0
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            if st.st_nlink > 1:
                linked += 1
            else:
                written += 1
                nbytes += st.st_size
    return written, nbytes, linked


class StatusStore:
    """Roll Spark's in-process status store up by job tag.

    Rolled up after every batch, because the store trims its oldest
    jobs and stages past ``spark.ui.retainedJobs``/``retainedStages``.
    A stage re-listed by a later job (a reused shuffle) counts once.
    """

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.jvm = sc._jvm
        self.last_job = -1
        self.seen_stages: set[int] = set()

    def _wait(self) -> None:
        # job/stage end events reach the store through the async
        # listener bus
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Forget everything before now."""
        self._wait()
        for _, _, sids in self._new_jobs():
            self.seen_stages.update(sids)

    def _new_jobs(self) -> list[tuple[int, list[str], list[int]]]:
        jobs = self.jsc.statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            tags = list(_seq(j.jobTags()))
            stages = [int(s) for s in _seq(j.stageIds())]
            out.append((jid, tags, stages))
        if out:
            self.last_job = max(j[0] for j in out)
        return sorted(out)

    def _stages(self, wanted: set[int]) -> dict[int, dict]:
        jvm = self.jvm
        lst = self.jsc.statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = {}
        for i in range(lst.size()):
            s = lst.apply(i)
            sid = s.stageId()
            if sid not in wanted or sid in self.seen_stages:
                continue
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self.seen_stages.add(sid)
            out[sid] = {
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "cpu_s": s.executorCpuTime() / 1e9,
                "run_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_B": s.shuffleWriteBytes(),
            }
        return out

    def rollup(self) -> dict[str, dict]:
        """{tag: {jobs, stages, tasks, cpu_s, run_s, gc_s,
        shuffle_write_B}} over the jobs finished since the last call;
        untagged jobs roll up under ''."""
        self._wait()
        jobs = self._new_jobs()
        stages = self._stages({s for _, _, ss in jobs for s in ss})
        out: dict[str, dict] = {}
        for _, tags, sids in jobs:
            tag = next((t for t in tags if t.startswith(TAG_PREFIX + "-")), "")
            acc = out.setdefault(tag, _zero())
            acc["jobs"] += 1
            for sid in sids:
                st = stages.pop(sid, None)
                if st is None:
                    continue
                acc["stages"] += 1
                for k in ("tasks", "cpu_s", "run_s", "gc_s", "shuffle_write_B"):
                    acc[k] += st[k]
        return out


def _zero() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "cpu_s": 0.0,
        "run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_B": 0,
    }


def _seq(s):
    """Iterate a Scala Seq (py4j gives no Python iterator for it)."""
    for i in range(s.size()):
        yield s.apply(i)


def add_counts(into: dict, c: dict) -> None:
    for k, v in c.items():
        into[k] = into.get(k, 0) + v
