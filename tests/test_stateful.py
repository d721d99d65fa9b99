"""Custom stateful operator (applyInPandasWithState): per-repo LSN
continuity state must accumulate across micro-batches AND across a
stream restart from the same checkpoint."""

from __future__ import annotations

import os

from etlframwork_spark.events import EventLogSpec, generate_event_log, read_log_pandas
from etlframwork_spark.streaming.sources import FileStreamSource
from etlframwork_spark.streaming.stateful import lsn_gap_monitor


def _drain(spark, events_dir, out_dir, ckpt):
    schema = FileStreamSource(events_dir).discover_schema()
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(events_dir)
    q = (
        lsn_gap_monitor(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_state_accumulates_across_batches_and_restart(spark, tmp_path):
    # shuffle_window=1 -> strictly lsn-ordered arrival, where the monitor's
    # conservative distinct count is exact (out-of-order arrival makes
    # missing_in_range an upper bound — documented semantics)
    spec = EventLogSpec(seed=12, n_events=2000, n_repos=6, paths_per_repo=5, n_files=4, shuffle_window=1)
    events_dir = str(tmp_path / "events")
    generate_event_log(events_dir, spec)
    ckpt = str(tmp_path / "ckpt")

    out1 = _drain(spark, events_dir, str(tmp_path / "mon"), ckpt)
    latest1 = {
        r["repo"]: r
        for r in out1.orderBy("events_total").collect()  # last update per repo wins
    }
    truth = read_log_pandas(events_dir)
    per_repo = truth.groupby("repo")["lsn"]
    for repo, grp in per_repo:
        got = latest1[repo]
        assert got["events_total"] == len(grp)
        assert got["min_lsn"] == grp.min()
        assert got["max_lsn"] == grp.max()
        want_missing = (grp.max() - grp.min() + 1) - grp.nunique()
        assert got["missing_in_range"] == want_missing, repo

    # append more segments; RESUME from the same checkpoint -> state carries
    spec2 = EventLogSpec(seed=12, n_events=2000, n_repos=6, paths_per_repo=5, n_files=4, shuffle_window=1)
    # regenerate the same log shifted: write extra files with new names
    import pandas as pd

    from etlframwork_spark.events import _make_events_frame, _write_segment

    extra = _make_events_frame(spec2).drop(columns=["lang"])
    extra["lsn"] = extra["lsn"] + 2000
    extra["commit"] = extra["lsn"].map(lambda x: format(x, "040x"))
    _write_segment(extra, os.path.join(events_dir, "events-90000.parquet"), False)

    out2 = _drain(spark, events_dir, str(tmp_path / "mon"), ckpt)
    latest2 = {r["repo"]: r for r in out2.orderBy("events_total").collect()}
    truth2 = read_log_pandas(events_dir)
    for repo, grp in truth2.groupby("repo")["lsn"]:
        got = latest2[repo]
        assert got["events_total"] == len(grp), repo
        assert got["max_lsn"] == grp.max(), repo
