"""Literal map/reduce file-contract tests (SURVEY.md §2.1 L1/L5/L7-L9).

Mirrors the reference's dataflow with real external executables on temp
input directories: per-file map fan-out with argv-append, output-pattern
capture, barrier + single reduce, pipe identity, timeout monitor.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from azure_batch_map_reduce_spark.plans.mapreduce import (
    file_source,
    gather_reduce,
    map_files,
    pipe_lines,
    run_with_timeout,
)


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "inputs"
    d.mkdir()
    (d / "a.txt").write_text("one two three\n")
    (d / "b.txt").write_text("four five\n")
    (d / "c.txt").write_text("six\n")
    (d / "ignored.dat").write_text("nope\n")
    return str(d)


def test_file_source_lists_files(spark, input_dir):
    df = file_source(spark, input_dir, glob="*.txt")
    names = sorted(
        r["path"].rsplit("/", 1)[-1] for r in df.select("path").collect()
    )
    assert names == ["a.txt", "b.txt", "c.txt"]


def test_map_files_cmd_argv_append(spark, input_dir):
    # `wc -w <file>` — the file path is appended to the command line,
    # exactly the reference's cmdline concat (Program.cs:335).
    out = map_files(spark, input_dir, map_cmd="wc -w", glob="*.txt").collect()
    by_task = {r["task_id"]: r for r in out}
    assert set(by_task) == {"a", "b", "c"}
    assert all(r["exit_code"] == 0 for r in out)
    counts = {t: int(bytes(r["content"]).split()[0]) for t, r in by_task.items()}
    assert counts == {"a": 3, "b": 2, "c": 1}


def test_map_files_output_pattern_capture(spark, input_dir):
    # Mapper writes a declared output file; engine captures by glob and
    # renames to {task_id}.{name} (App.config:19 / Program.cs:341-344).
    cmd = "sh -c 'tr a-z A-Z < \"$0\" > dsfinal.txt'"
    out = map_files(
        spark, input_dir, map_cmd=cmd, glob="a.txt", output_pattern="dsfinal.txt"
    ).collect()
    assert len(out) == 1
    assert out[0]["output_name"] == "a.dsfinal.txt"
    assert bytes(out[0]["content"]) == b"ONE TWO THREE\n"


def test_map_reduce_end_to_end(spark, input_dir):
    # map: word-count per file; reduce: `cat` over all gathered map
    # outputs — the full two-stage DAG with the barrier in between.
    mapped = map_files(spark, input_dir, map_cmd="wc -w", glob="*.txt")
    reduced = gather_reduce(mapped, reduce_cmd="cat *.stdout").collect()
    assert len(reduced) == 1
    assert reduced[0]["task_id"] == "task-reducer"
    total = sum(int(line.split()[0]) for line in bytes(reduced[0]["content"]).splitlines())
    assert total == 6


def test_map_files_python_fn(spark, input_dir):
    mapped = map_files(
        spark,
        input_dir,
        map_fn=lambda path, content: content.upper(),
        glob="*.txt",
    )
    rows = {r["task_id"]: bytes(r["content"]) for r in mapped.collect()}
    assert rows["a"] == b"ONE TWO THREE\n"


def test_reduce_fn_barrier_sees_all_outputs(spark, input_dir):
    mapped = map_files(spark, input_dir, map_fn=lambda p, c: c, glob="*.txt")
    reduced = gather_reduce(
        mapped, reduce_fn=lambda outs: b"|".join(name.encode() for name, _ in outs)
    ).collect()
    assert bytes(reduced[0]["content"]) == b"a.out|b.out|c.out"


def test_pipe_identity(spark, sf_dir):
    # pipe(cat) ≡ identity — the §5 property-based invariant.
    from azure_batch_map_reduce_spark.catalog import load_tables

    docs = load_tables(spark, sf_dir)["documents"].select(
        F.col("text").alias("value")
    )
    piped = pipe_lines(docs, "cat")
    assert sorted(r["value"] for r in piped.collect()) == sorted(
        r["value"] for r in docs.collect()
    )


def test_nonzero_exit_code_surfaces(spark, input_dir):
    out = map_files(
        spark, input_dir, map_cmd="sh -c 'exit 3' --", glob="a.txt"
    ).collect()
    # Completed ≠ successful (Program.cs:427-429): the exit code is
    # carried in-band so callers can fail fast instead of post-hoc.
    assert out[0]["exit_code"] == 3


def test_run_with_timeout_completes(spark, sf_dir):
    from azure_batch_map_reduce_spark.catalog import load_tables

    n = run_with_timeout(
        spark, lambda: load_tables(spark, sf_dir)["nation"].count(), timeout_s=120
    )
    assert n == 25


def test_run_with_timeout_cancels(spark, sf_dir):
    import time

    from azure_batch_map_reduce_spark.catalog import load_tables

    def slow():
        df = load_tables(spark, sf_dir)["lineitem"]
        # Per-partition sleep so the job outlives the timeout.
        return df.rdd.mapPartitions(
            lambda it: (time.sleep(30), it)[1]
        ).count()

    with pytest.raises(TimeoutError):
        run_with_timeout(spark, slow, timeout_s=3)


def test_empty_input_dir(spark, tmp_path):
    # Reference would submit zero mappers + a reducer depending on
    # nothing (Program.cs:332,355); engine yields an empty frame.
    d = tmp_path / "empty"
    d.mkdir()
    (d / ".keep").write_text("")
    df = file_source(spark, str(d), glob="*.txt")
    assert df.count() == 0


def test_progress_monitor_observes_stages(spark, sf_dir):
    from azure_batch_map_reduce_spark.plans.mapreduce import ProgressMonitor

    with ProgressMonitor(spark, interval_s=0.02) as mon:
        # A job deterministically slower than the poll interval: each
        # task sleeps, so the poller always observes active stages (a
        # data-sized job at sf0.001 can finish between polls).
        def slow_part(it):
            import time as _t

            _t.sleep(0.3)
            return it

        spark.sparkContext.parallelize(range(8), 8).mapPartitions(
            slow_part
        ).count()
    assert mon.snapshots, "monitor saw no active stages"
    sid, n_tasks, n_active, n_done = mon.snapshots[0]
    assert n_tasks > 0 and 0 <= n_done <= n_tasks


def test_colliding_map_outputs_raise_before_reduce(spark, tmp_path):
    # Task ids are file stems, so a.txt and a.md both yield a.stdout;
    # one would silently overwrite the other in the reducer's workdir.
    d = tmp_path / "collide"
    d.mkdir()
    (d / "a.txt").write_text("one two three\n")
    (d / "a.md").write_text("four five\n")
    marker = tmp_path / "reducer-ran"
    mapped = map_files(spark, str(d), map_cmd="wc -w")
    for kwargs in (
        {"reduce_cmd": f"touch {marker}"},
        {"reduce_fn": lambda outs: marker.write_text("ran") or b""},
    ):
        with pytest.raises(Exception) as exc:
            gather_reduce(mapped, **kwargs).collect()
        msg = str(exc.value)
        assert "map output name collision: 'a.stdout'" in msg
        assert "a.txt" in msg and "a.md" in msg
        assert not marker.exists()


def test_gather_reduce_keeps_map_fan_out(spark, tmp_path):
    # The map→reduce barrier is a shuffle, so the map stage runs with
    # map_files' own task count instead of folding into the reducer's
    # single task.
    d = tmp_path / "many"
    d.mkdir()
    for i in range(12):
        (d / f"f{i:02d}.txt").write_text("w " * (i + 1) + "\n")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def first_stage_tasks(group, action):
        sc.setJobGroup(group, group)
        try:
            result = action()
        finally:
            sc._jsc.clearJobGroup()
        jobs = tracker.getJobIdsForGroup(group)
        first = min(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
        return tracker.getStageInfo(first).numTasks, result

    mapped = map_files(spark, str(d), map_cmd="wc -w")
    map_only, _ = first_stage_tasks("fanout-map-only", mapped.count)
    gathered, rows = first_stage_tasks(
        "fanout-gather", gather_reduce(mapped, reduce_cmd="cat *.stdout").collect
    )
    assert gathered == map_only
    if sc.defaultParallelism >= 2:
        # Each tiny file costs openCostInBytes, so 12 files split across
        # several binaryFile partitions.
        assert map_only > 1
    total = sum(int(line.split()[0]) for line in bytes(rows[0]["content"]).splitlines())
    assert total == sum(range(1, 13))


def test_empty_input_runs_reducer_once(spark, tmp_path):
    # No matching input files: zero mappers, and the reducer still runs
    # exactly once over nothing (Program.cs:332,355).
    d = tmp_path / "empty"
    d.mkdir()
    (d / ".keep").write_text("")
    mapped = map_files(spark, str(d), map_cmd="wc -w", glob="*.txt")
    by_cmd = gather_reduce(mapped, reduce_cmd="ls | wc -l").collect()
    assert len(by_cmd) == 1
    assert by_cmd[0]["exit_code"] == 0
    assert int(bytes(by_cmd[0]["content"])) == 0
    by_fn = gather_reduce(
        mapped, reduce_fn=lambda outs: str(len(outs)).encode()
    ).collect()
    assert len(by_fn) == 1
    assert bytes(by_fn[0]["content"]) == b"0"
