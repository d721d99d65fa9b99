"""The benchmark workloads.

Each workload is one closed-loop client driving the engine's public
functions. ``prepare`` builds the cached inputs (untimed); ``setup``
builds the state the timed loop starts from (timed into ``setup_s``);
``run_pass`` is one timed pass and returns its measurements; ``check``
compares the outputs with an oracle after the loop (untimed). All passes of a run
share one JVM, and each runs right after its own ``setup``, so every
pass does the same work on the same state. Calls that raise and failed
checks are counted in ``attempted``/``failed``.

A pass returns flat ``{name: value}`` measurements; the runner takes the
median of each over the passes. Names without a layer prefix are the
workload's own figures; ``layer.name`` figures come only from traced
passes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

from etlframwork_spark.events import apply_oracle, oracle_digests, read_log_pandas
from etlframwork_spark.streaming import IngestJob, run_ingest
from etlframwork_spark.table import SnapshotTable

from . import inputs
from .trace import Tracer, batch_of, sum_stages


@dataclass
class Sizes:
    seg_events: int = 500
    seed_segments: int = 10
    round_reads: int = 4
    # examples/medallion_job.json folds a bucket's deltas at 2 files
    compact_min_deltas: int = 2


TINY = Sizes(seg_events=100, seed_segments=4, round_reads=2)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def _live_bytes(table: SnapshotTable) -> int:
    return sum(os.path.getsize(p) for p in table.files_for())


def _content_bytes(state: dict) -> int:
    return sum(len(v["content"].encode("utf-8")) for v in state.values())


def _mismatches(spark, table: SnapshotTable, state: dict) -> int:
    """Keys whose (sha256(content), lsn) differ from the oracle state,
    plus keys present on one side only."""
    got = {
        (r["repo"], r["path"]): (r["content_sha256"], int(r["lsn"]))
        for r in table.read(spark).select("repo", "path", "content_sha256", "lsn")
        .toPandas().to_dict("records")
    }
    digests = oracle_digests(state)
    want = {k: (digests[k], v["lsn"]) for k, v in state.items()}
    return len(set(got.items()) ^ set(want.items()))


def _point_keys(rng, n: int, hot_paths: int, n_repos: int, paths: int) -> list[list[tuple]]:
    """Point-read filters: half on the hot repo, half on cold repos."""
    out = []
    for i in range(n):
        repo = 0 if i % 2 == 0 else int(rng.integers(1, n_repos))
        path = int(rng.integers(0, hot_paths if repo == 0 else paths))
        ext = ["py", "rs", "go", "js", "md"][path % 5]
        out.append(
            [("repo", "=", f"org{repo // 10}/repo{repo}"),
             ("path", "=", f"src/mod{path // 10}/f{path}.{ext}")]
        )
    return out


def _stream_layers(progress: list[dict], marks: list[tuple[str, float]], jobs: list[dict],
                   wall: float, events: int, cores: int,
                   windows: list[tuple[float, float]] = ()) -> dict:
    """Per-layer figures of one ``run_ingest`` call from its listener
    progress, its merge-phase hook marks and its status-store jobs.
    ``windows`` are (start, end) spans of work nested in the epochs that
    is not the merge (compaction); their jobs and time are left out."""
    batches = [p for p in progress if "addBatch" in p["ms"]]
    run_ids = {p["run_id"] for p in batches}
    nested = sum(b - a for a, b in windows)
    mjobs = [
        j for j in jobs
        if j["group"] in run_ids and batch_of(j) is not None
        and not any(a <= (j["submitted"] or 0) <= b for a, b in windows)
    ]
    st = sum_stages(mjobs)
    write = commit = 0.0
    commits = []
    t = {}
    for stage, ts in marks:
        t[stage] = ts
        if stage == "pre_commit":
            write += ts - t.get("pre_write", ts)
        elif stage == "post_commit":
            commits.append(ts - t.get("pre_commit", ts))
    commit = sum(commits)
    n = max(len(batches), 1)
    trig = [p["ms"]["triggerExecution"] for p in batches] or [0]
    add = [p["ms"]["addBatch"] for p in batches] or [0]
    plan = [
        sum(p["ms"].get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit"))
        for p in batches
    ] or [0]
    merge_wall = sum(add) / 1000.0 - nested
    ev = max(events, 1)
    return {
        "streaming.epochs": len(batches),
        "streaming.trigger_ms_p50": statistics.median(trig),
        "streaming.add_batch_ms_p50": statistics.median(add),
        "streaming.plan_ms_p50": statistics.median(plan),
        "streaming.start_stop_s": wall - sum(trig) / 1000.0,
        "merge.write_s": write,
        "merge.epoch_other_s": merge_wall - write - commit,
        "merge.jobs_per_epoch": st["jobs"] / n,
        "merge.tasks_per_epoch": st["tasks"] / n,
        "merge.task_cpu_s": st["cpu_ns"] / 1e9,
        "merge.shuffle_write_bytes_per_event": st["shuffle_write_bytes"] / ev,
        "merge.output_bytes_per_event": st["output_bytes"] / ev,
        "merge.cores_busy_ratio": st["run_ms"] / 1000.0 / max(merge_wall * cores, 1e-9),
        "merge.rows_written_per_event": st["output_rows"] / ev,
        "table.commit_ms_p50": 1000.0 * statistics.median(commits or [0.0]),
    }


def shared_inputs(cache: str) -> str:
    """The query suite's input and DuckDB's answers over it. Neither
    depends on the seed; every run builds them if they are missing, so
    the first run in a checkout, whatever its workload, generates all of
    them. Returns the input directory."""
    from bench import HEADLINE

    from .checks import warm_oracles

    # a tenth of the sf0.1 star schema: DuckDB's quadratic dedup twins
    # answer in seconds at this size
    data_dir = inputs.small_star(cache, inputs.star_schema(cache))
    warm_oracles(cache, HEADLINE, data_dir)
    return data_dir


class Workload:
    name = ""

    def __init__(self, cache: str, work: str, seed: int, sizes: Sizes, cores: int) -> None:
        self.cache, self.work, self.seed, self.sizes, self.cores = cache, work, seed, sizes, cores
        self.attempted = 0
        self.failed = 0

    def call(self, fn, *args, **kwargs):
        """One attempted public call; a raise counts as failed and ends
        the run."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            raise

    def setup(self, spark) -> None:
        """State each pass starts from, built before every pass; the
        first build is timed into ``setup_s``."""

    def check(self, spark) -> None:
        """Untimed oracle checks after the timed loop."""

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


class IncrementalRounds(Workload):
    """A scheduled job, the shape ``plans/job.py`` runs. A pass is one
    round: land one small segment, resume the mor ingest (which folds a
    bucket's deltas once it holds ``compact_min_deltas`` of them), sync
    bronze to silver, run keyed reads and one full read, then
    ``delete_where`` one repo and purge the tombstones below the
    watermark of the segments landed."""

    name = "incremental_rounds"

    def prepare(self) -> None:
        s = self.sizes
        self.segments = inputs.round_segments(
            self.cache, self.seed, s.seg_events, s.seed_segments + 1
        )
        lows = [inputs.segment_min_lsn(p) for p in self.segments]
        # watermark[i]: every event with a lower lsn lands in segments[:i]
        self.watermark = [min(lows[i:]) for i in range(len(lows))] + [max(lows) + 1]
        rng = np.random.default_rng(self.seed)
        self.keys = _point_keys(rng, s.round_reads, 40, 250, 40)
        r = int(rng.integers(1, 250))
        self.victim_repo = f"org{r // 10}/repo{r}"

    def _job(self) -> IngestJob:
        return IngestJob(
            job_id="bronze", events_dir=self.events_dir,
            table_root=os.path.join(self.root, "bronze"),
            checkpoint_dir=os.path.join(self.root, "ckpt"),
            metrics_dir=os.path.join(self.root, "metrics"),
            num_buckets=16, max_files_per_trigger=64, write_mode="mor",
            compact_min_deltas=self.sizes.compact_min_deltas,
        )

    def _land(self, i: int) -> None:
        src = self.segments[i]
        os.link(src, os.path.join(self.events_dir, os.path.basename(src)))
        self.landed = i + 1

    def setup(self, spark) -> None:
        from etlframwork_spark.changes import sync_incremental

        self.root = self.fresh_dir("rounds")
        self.events_dir = os.path.join(self.root, "events")
        os.makedirs(self.events_dir)
        for i in range(self.sizes.seed_segments):
            self._land(i)
        self.bronze = self.call(run_ingest, spark, self._job())
        self.silver = SnapshotTable.create(
            os.path.join(self.root, "silver"), self.bronze.schema(),
            key_cols=self.bronze.key_cols, order_col=self.bronze.order_col, num_buckets=16,
        )
        self.call(sync_incremental, spark, self.bronze, self.silver, job_id="silver")

    def run_pass(self, spark, tracer: Tracer) -> dict:
        from etlframwork_spark import maintenance
        from etlframwork_spark.changes import sync_incremental
        from etlframwork_spark.merge import delete_where
        from pyspark.sql import functions as F

        s = self.sizes
        out: dict = {}
        compactions: list[tuple[float, float, dict]] = []
        real_compact = maintenance.compact_buckets
        if tracer.enabled:
            def compact(*a, **kw):
                t0 = time.time()
                res = real_compact(*a, **kw)
                compactions.append((t0, time.time(), res))
                return res

            maintenance.compact_buckets = compact
        t_pass = time.perf_counter()
        try:
            self._land(self.landed)
            with tracer.span("run_ingest"):
                t0 = time.perf_counter()
                self.bronze = self.call(run_ingest, spark, self._job(), fault_injector=tracer.hook())
                ingest_s = time.perf_counter() - t0
            out["round_s"] = time.perf_counter() - t_pass
            if tracer.enabled:
                # in-memory metadata: the delta files the reads below see
                delta_max = max(self.bronze.delta_file_counts().values(), default=0)
            with tracer.span("sync_incremental"):
                t0 = time.perf_counter()
                res = self.call(sync_incremental, spark, self.bronze, self.silver, job_id="silver")
                out["sync_s"] = time.perf_counter() - t0
            reads = []
            for f in self.keys:
                with tracer.span("point_read"):
                    t0 = time.perf_counter()
                    self.call(lambda: self.bronze.read(spark, filters=f).collect())
                    reads.append(time.perf_counter() - t0)
            out["reads"] = reads
            with tracer.span("scan_read"):
                t0 = time.perf_counter()
                self.call(lambda: self.bronze.read(spark).write.format("noop")
                          .mode("overwrite").save())
                out["scan_read_s"] = time.perf_counter() - t0
            with tracer.span("delete_where"):
                t0 = time.perf_counter()
                self.call(delete_where, spark, self.bronze, F.col("repo") == self.victim_repo,
                          filters=[("repo", "=", self.victim_repo)])
                delete_s = time.perf_counter() - t0
            with tracer.span("purge_tombstones"):
                t0 = time.perf_counter()
                purged = self.call(maintenance.purge_tombstones, spark, self.bronze,
                                   self.watermark[self.landed])
                purge_s = time.perf_counter() - t0
        finally:
            maintenance.compact_buckets = real_compact
        out["pass_s"] = time.perf_counter() - t_pass
        if tracer.enabled:
            # the benchmark's own bookkeeping runs after the pass clock stops
            progress, marks = tracer.take_progress(), tracer.take_marks()
            jobs = tracer.store.new_jobs()
            windows = [(a, b) for a, b, _ in compactions]
            out.update(_stream_layers(progress, marks, jobs, ingest_s, s.seg_events,
                                      self.cores, windows))
            out["maintenance.compact_s"] = sum(b - a for a, b in windows)
            out["maintenance.delta_files_folded"] = sum(
                r["delta_files_folded"] for _, _, r in compactions)
            out["maintenance.purge_s"] = purge_s
            out["maintenance.tombstones_purged"] = purged["tombstones_purged"]
            out["merge.delete_where_s"] = delete_s
            out["table.delta_files_max"] = delta_max
            out["changes.sync_s"] = out["sync_s"]
            out["changes.rows_per_event_landed"] = (res.get("rows") or 0) / s.seg_events
            self.bronze.refresh()
            plan_ms, files = [], []
            for f in self.keys:
                t0 = time.perf_counter()
                clean, dirty = self.bronze.scan_files(filters=f)
                plan_ms.append(1000.0 * (time.perf_counter() - t0))
                files.append(len(clean) + len(dirty))
            out["table.scan_files_ms"] = statistics.median(plan_ms)
            out["table.point_read_files"] = statistics.median(files)
            out["table.data_bytes"] = _live_bytes(self.bronze)
            out["table.metadata_bytes"] = _dir_bytes(os.path.join(self.bronze.root, "metadata"))
            out["lineage.metrics_files"] = _count_files(os.path.join(self.root, "metrics"))
        return out

    def check(self, spark) -> None:
        """Silver against ``apply_oracle`` over the landed segments, and
        bronze against the same state without the victim repo's keys. The
        delete is the pass's last write, so no later event can bring a
        victim back; silver was synced before it."""
        synced = apply_oracle(read_log_pandas(self.segments[:self.landed]))
        state = {k: v for k, v in synced.items() if v["repo"] != self.victim_repo}
        for table, want in ((self.bronze, state), (self.silver, synced)):
            self.attempted += 1
            if _mismatches(spark, table.refresh(), want):
                self.failed += 1
        self.space_amp = _live_bytes(self.bronze) / _content_bytes(state)


class QuerySuite(Workload):
    """One pass over the 17 headline query legs at sf0.01. Each leg's
    result is collected as Arrow so the check sees exactly what was
    timed."""

    name = "query_suite"

    MODULES = {
        "etlframwork_spark.operators.relational": "operators.relational",
        "etlframwork_spark.functions.dedup": "functions.dedup",
        "etlframwork_spark.functions.similarity": "functions.similarity",
        "etlframwork_spark.functions.multimodal": "functions.multimodal",
        "etlframwork_spark.functions.text": "functions.text",
    }

    def prepare(self) -> None:
        from bench import HEADLINE, _resolve_query

        self.data_dir = shared_inputs(self.cache)
        self.legs = [(n, _resolve_query(n)) for n in HEADLINE]

    def run_pass(self, spark, tracer: Tracer) -> dict:
        out: dict = {}
        spans = {}
        self.results = {}
        for name, fn in self.legs:
            with tracer.span(f"query.{name}") as sp:
                t0 = time.perf_counter()
                self.results[name] = self.call(lambda: fn(spark, self.data_dir).toArrow())
                out[f"query.{name}_s"] = time.perf_counter() - t0
            spans[name] = sp
        out["pass_s"] = out["query_suite_s"] = sum(out[f"query.{n}_s"] for n, _ in self.legs)
        if tracer.enabled:
            by_group: dict[str, list[dict]] = {}
            for j in tracer.store.new_jobs():
                by_group.setdefault(j["group"], []).append(j)
            for mod in self.MODULES.values():
                for k in ("_s", "_tasks", "_task_cpu_s", "_shuffle_bytes"):
                    out[mod + k] = 0.0
            for name, fn in self.legs:
                mod = self.MODULES[fn.__module__]
                st = sum_stages(by_group.get(spans[name]["group"], []))
                out[mod + "_s"] += out[f"query.{name}_s"]
                out[mod + "_tasks"] += st["tasks"]
                out[mod + "_task_cpu_s"] += st["cpu_ns"] / 1e9
                out[mod + "_shuffle_bytes"] += st["shuffle_write_bytes"]
        return out

    def check(self, spark) -> None:
        """The last pass's results against their DuckDB twins."""
        from .checks import check_leg

        for name, _ in self.legs:
            self.attempted += 1
            if not check_leg(self.cache, name, self.results[name], self.data_dir):
                self.failed += 1


WORKLOADS = {w.name: w for w in (IncrementalRounds, QuerySuite)}
