"""Per-layer tracing, recorded from outside the engine.

Four probes, all on public surfaces:

* spans the benchmark opens around each public engine call, each with
  its own Spark job group so Spark's status store can attribute jobs,
  tasks, CPU and bytes to the call;
* a ``StreamingQueryListener`` for per-trigger durations of every
  ``run_ingest`` stream (whose jobs Spark groups under the query run id);
* the ``fault_injector`` hook of ``run_ingest``/``merge_batch``, used only
  to timestamp ``pre_write``/``pre_commit``/``post_commit``;
* ``sc._jsc.sc().statusStore()`` stage data, which Spark keeps with the
  UI disabled.

A disabled tracer records nothing and adds no job group, listener or
hook, so the untraced run times the program as it ships.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_BATCH = re.compile(r"batch = (\d+)")
# span ids are unique within the process
_SPAN_IDS = itertools.count(1)


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {"run_id": str(p.runId), "batch": p.batchId, "rows": p.numInputRows,
             "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StatusStore:
    """Reads finished jobs and stages from Spark's status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        gw = sc._gateway
        self._jvm = gw.jvm
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_job = -1
        self._last_stage = -1

    def flush(self) -> None:
        """Wait until the listener bus has delivered every event so far
        (status store updates and streaming progress both ride it)."""
        self._sc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[dict]:
        """Jobs that finished since the previous call, with their stages.
        Both lists come newest first, so reading stops at the first id
        already seen."""
        self.flush()
        stages: dict[int, dict] = {}
        seq = self._store.stageList(
            self._no_status, False, False, self._no_quantiles, self._no_status
        )
        top_stage = self._last_stage
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            stages[sid] = {
                "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(),
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
                "output_rows": s.outputRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
            }
        self._last_stage = top_stage
        jobs: list[dict] = []
        seq = self._store.jobsList(self._no_status)
        top_job = self._last_job
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            top_job = max(top_job, jid)
            ids = j.stageIds()
            job_stages = [stages[ids.apply(k)] for k in range(ids.size()) if ids.apply(k) in stages]
            group = j.jobGroup()
            desc = j.description()
            sub = j.submissionTime()
            jobs.append(
                {
                    "id": jid,
                    "group": group.get() if group.isDefined() else None,
                    "desc": desc.get() if desc.isDefined() else "",
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "stages": job_stages,
                }
            )
        self._last_job = top_job
        return jobs

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def sum_stages(jobs: list[dict]) -> dict:
    """Totals over the stages of ``jobs``."""
    out = {"jobs": len(jobs), "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
           "input_bytes": 0, "output_bytes": 0, "output_rows": 0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
    for j in jobs:
        for s in j["stages"]:
            for k, v in s.items():
                out[k] += v
    return out


def batch_of(job: dict) -> int | None:
    """Micro-batch id of a streaming job (Spark writes it into the job
    description of every job a trigger runs)."""
    m = _BATCH.search(job["desc"])
    return int(m.group(1)) if m else None


class Tracer:
    """Spans plus the probes above; ``enabled`` switches all of them."""

    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.marks: list[tuple[str, float]] = []
        self.store = StatusStore(spark)
        self._listener = _ProgressListener()
        self._stack: list[dict] = []

    def enable(self, on: bool) -> None:
        if on == self.enabled:
            return
        if on:
            self.store.new_jobs()  # skip jobs that ran untraced
            self.spark.streams.addListener(self._listener)
        else:
            self.spark.streams.removeListener(self._listener)
        self.enabled = on

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call. Traced, it also gets a job group so its Spark
        jobs can be found in the status store afterwards."""
        if not self.enabled:
            yield None
            return
        sid = next(_SPAN_IDS)
        rec = {"id": sid, "name": name, "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "group": f"pb-{self.run_id}-{sid}", **attrs}
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def hook(self):
        """A ``fault_injector`` that only timestamps the merge phases."""
        if not self.enabled:
            return None
        return lambda stage: self.marks.append((stage, time.time()))

    def take_progress(self) -> list[dict]:
        self.store.flush()
        out, self._listener.progress = self._listener.progress, []
        return out

    def take_marks(self) -> list[tuple[str, float]]:
        out, self.marks = self.marks, []
        return out


def write_spans(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({k: s.get(k) for k in
                                ("id", "name", "start", "end", "parent", "run_id")}) + "\n")
