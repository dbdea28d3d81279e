"""Incremental layer (streams/tasks/dynamic tables/time travel) and
Structured Streaming tests."""

import time

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def vt(spark, tmp_path):
    from databend_spark.streaming import VersionedTable

    return VersionedTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v string")


def test_versioned_table_time_travel(spark, vt):
    v1 = vt.append(_df(spark, [(1, "a")]))
    t_between = time.time()
    v2 = vt.append(_df(spark, [(2, "b"), (3, "c")]))
    assert (v1, v2) == (1, 2)
    assert vt.read().count() == 3
    assert vt.read(version=1).count() == 1          # AT (SNAPSHOT)
    assert vt.read_at_timestamp(t_between).count() == 1  # AT (TIMESTAMP)
    assert {r.id for r in vt.changes(1).collect()} == {2, 3}  # CHANGES


def test_standard_mode_changes_emit_delete_rows(spark, vt):
    """Standard-mode CHANGES across an overwrite commit: removed rows
    come back as change$action=DELETE, added rows as INSERT, unchanged
    rows are suppressed (reference changes.rs standard streams)."""
    from databend_spark.streaming import Stream

    vt.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    s = Stream(vt, "std1", at_version=1, mode="standard")
    # overwrite: drop id=2, keep 1/3, add 4 — a mutation commit
    vt.overwrite(_df(spark, [(1, "a"), (3, "c"), (4, "d")]))

    # append-only stream over the same range must refuse
    s_ap = Stream(vt, "ap1", at_version=1)
    with pytest.raises(ValueError, match="overwrite"):
        s_ap.read().collect()

    rows = {(r.id, r["change$action"]) for r in s.read().collect()}
    assert rows == {(2, "DELETE"), (4, "INSERT")}
    # consuming advances the offset; a later append shows as INSERT only
    s.consume(lambda df: df.count())
    vt.append(_df(spark, [(5, "e")]))
    rows2 = {(r.id, r["change$action"]) for r in s.read().collect()}
    assert rows2 == {(5, "INSERT")}
    assert all(r["change$row_id"] for r in s.read().collect())


def test_stream_transactional_consumption(spark, vt):
    from databend_spark.streaming import Stream

    s = Stream(vt, "s1")           # created on empty table → tracks all
    vt.append(_df(spark, [(1, "a")]))
    assert s.has_data()
    seen = []
    s.consume(lambda df: seen.append(df.count()))
    assert seen == [1]
    assert not s.has_data()  # offset advanced

    # failing consumer must NOT advance the offset
    vt.append(_df(spark, [(2, "b")]))
    with pytest.raises(RuntimeError):
        s.consume(lambda df: (_ for _ in ()).throw(RuntimeError("boom")))
    assert s.has_data()
    s.consume(lambda df: seen.append(df.count()))
    assert seen == [1, 1]


def test_task_runner_dag_and_when(spark, vt):
    from databend_spark.streaming import Stream, Task, TaskRunner

    s = Stream(vt, "tsk")
    vt.append(_df(spark, [(1, "a")]))
    ran = []
    r = TaskRunner()
    r.add(Task("load", fn=lambda: ran.append("load"), when=s.has_data))
    r.add(Task("transform", fn=lambda: ran.append("transform"), after=["load"]))
    assert r.run_cycle() == ["load", "transform"]
    # second cycle: stream not consumed → when still true; consume, then idle
    s.consume(lambda df: None)
    ran.clear()
    executed = TaskRunner()
    executed.add(Task("load", fn=lambda: ran.append("load"), when=s.has_data))
    assert executed.run_cycle() == []


def test_task_cycle_detection():
    from databend_spark.streaming import Task, TaskRunner

    r = TaskRunner()
    r.add(Task("a", fn=lambda: None, after=["b"]))
    r.add(Task("b", fn=lambda: None, after=["a"]))
    with pytest.raises(RuntimeError, match="cycle"):
        r.run_cycle()


def test_dynamic_table_incremental(spark, vt, tmp_path):
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv"),
        query=lambda df: df.select("id", F.upper("v").alias("V")),
        mode="incremental",
    )
    vt.append(_df(spark, [(1, "a")]))
    assert dyn.refresh()
    assert {r.V for r in dyn.read().collect()} == {"A"}
    vt.append(_df(spark, [(2, "b")]))
    assert dyn.refresh()
    assert {r.V for r in dyn.read().collect()} == {"A", "B"}
    assert not dyn.refresh()  # nothing new → no work


def test_dynamic_table_full_recompute(spark, vt, tmp_path):
    from databend_spark.streaming import DynamicTable

    dyn = DynamicTable(
        spark,
        vt,
        str(tmp_path / "mv2"),
        query=lambda df: df.groupBy().agg(F.count("*").alias("n")),
        mode="full",
    )
    vt.append(_df(spark, [(1, "a"), (2, "b")]))
    dyn.refresh()
    assert dyn.read().collect()[0].n == 2
    vt.append(_df(spark, [(3, "c")]))
    dyn.refresh()
    assert dyn.read().collect()[0].n == 3


def test_structured_streaming_windowed(spark, sf_dir, tmp_path):
    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        windowed_counts,
    )

    # stage a few micro-batch files from the driver events table
    ev = load_table(spark, f"{sf_dir}/events.parquet")
    src = str(tmp_path / "stream_src")
    ev.limit(500).coalesce(1).write.parquet(src)

    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    run_to_memory(windowed_counts(stream, window="1 hour"), "win_out")
    out = spark.sql("SELECT * FROM win_out")
    assert out.count() > 0
    row = out.orderBy("window_start", "event_type").first()
    assert row.n >= 1 and row.window_end > row.window_start


def test_structured_streaming_session_window(spark, sf_dir, tmp_path):
    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        sessionized,
    )

    ev = load_table(spark, f"{sf_dir}/events.parquet")
    src = str(tmp_path / "sess_src")
    ev.limit(300).coalesce(1).write.parquet(src)
    run_to_memory(sessionized(read_event_stream(spark, src)), "sess_out")
    out = spark.sql("SELECT * FROM sess_out")
    assert out.count() > 0
    assert out.filter(F.col("n_events") < 1).count() == 0


def test_stream_tracks_from_creation_point(spark, vt):
    """CREATE STREAM semantics: history before creation is not replayed."""
    from databend_spark.streaming import Stream

    vt.append(_df(spark, [(1, "old")]))
    s = Stream(vt, "fresh")
    assert not s.has_data()
    vt.append(_df(spark, [(2, "new")]))
    seen = []
    s.consume(lambda df: seen.append({r.id for r in df.collect()}))
    assert seen == [{2}]
    # explicit full-history stream
    s0 = Stream(vt, "full", at_version=0)
    assert {r.id for r in s0.read().collect()} == {1, 2}


def test_compact_collapses_append_chain(spark, vt):
    import os

    for i in range(4):
        vt.append(_df(spark, [(i, f"r{i}")]))
    assert vt.read().count() == 4
    v = vt.compact()
    assert v == 5
    assert vt.read().count() == 4  # same rows
    # reads now touch only the compacted dir
    log = vt._read_log()
    assert log[-1]["mode"] == "overwrite"
    assert vt._dirs(0, v) == [log[-1]["dir"]]
    # snapshots table function shows the full chain
    snaps = vt.snapshots()
    assert snaps.count() == 5
    assert [r.mode for r in snaps.orderBy("version").collect()][-1] == "overwrite"
    assert os.path.isdir(log[-1]["dir"])


def test_compact_recluster_sorts_files(spark, vt):
    rows = [(i * 7919 % 100, f"v{i}") for i in range(50)]
    vt.append(_df(spark, rows))
    vt.compact(cluster_by=["id"])
    got = [r.id for r in vt.read().collect()]
    assert sorted(got) == sorted(r[0] for r in rows)


def test_vacuum_frees_superseded_dirs_keeps_head(spark, vt):
    import os

    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    old_dirs = [e["dir"] for e in vt._read_log()]
    vt.compact()
    removed = vt.vacuum(retain_last=1)
    assert set(removed) == set(old_dirs)
    for d in old_dirs:
        assert not os.path.exists(d)
    assert vt.read().count() == 2  # head unaffected
    with pytest.raises(Exception):
        vt.read(version=1)  # gc'd snapshot no longer time-travelable


def test_vacuum_append_only_removes_nothing(spark, vt):
    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    assert vt.vacuum(retain_last=1) == []  # every dir still feeds head
    assert vt.read().count() == 2


def test_stateful_user_stats_accumulates_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    final counts equal the batch groupBy, proving state survival."""
    import os
    import shutil

    from databend_spark.session import load_table
    from databend_spark.streaming.structured import (
        read_event_stream,
        run_to_memory,
        stateful_user_stats,
    )

    events = load_table(spark, os.path.join(sf_dir, "events.parquet")).filter(
        "user_id < 20"
    )
    src = str(tmp_path / "stream_src")
    # two file drops → two micro-batches (maxFilesPerTrigger=1)
    events.filter("event_id % 2 = 0").coalesce(1).write.parquet(src)
    events.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    out = stateful_user_stats(read_event_stream(spark, src))
    run_to_memory(out, "user_stats", output_mode="update")

    # last update per user == full-batch aggregate
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM user_stats "
            "GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(want) > 0


# -- the snapshot log records each commit's schema --------------------------

_RICH = """SELECT id, CAST(id * 1.25 AS DECIMAL(15,2)) AS d,
    TIMESTAMP'2024-01-02 03:04:05' + make_interval(0, 0, 0, id) AS ts,
    TIMESTAMP_NTZ'2024-01-02 03:04:05' AS tsn, DATE'2024-01-02' AS dt,
    array(id, id + 1) AS arr, map('k', id) AS m,
    named_struct('x', id, 'y', CAST(id AS STRING)) AS st,
    CAST(NULL AS STRING) AS n
    FROM VALUES (1), (2), (3) AS v(id)"""


def _assert_reads_like_parquet(spark, vt):
    """The table reads with the schema and rows Spark infers from its
    files (metadata included)."""
    inferred = spark.read.parquet(*vt._dirs(0, vt.version))
    got = vt.read()
    assert got.schema == inferred.schema
    assert got.orderBy("id").collect() == inferred.orderBy("id").collect()


def test_recorded_schema_matches_files_after_each_commit(spark, vt):
    from databend_spark.operators.mutations import (
        delete_from,
        merge_into,
        src,
        update_table,
    )

    rich = spark.sql(_RICH).withColumn(
        "c", F.col("id").alias("c", metadata={"comment": "kept"}))
    vt.append(rich)
    assert vt.read().schema["c"].metadata == {"comment": "kept"}
    _assert_reads_like_parquet(spark, vt)
    vt.append(rich.withColumn("id", F.col("id") + 3))
    _assert_reads_like_parquet(spark, vt)
    update_table(vt, F.col("id") == 2, {"d": F.lit(9.5).cast("decimal(15,2)")})
    _assert_reads_like_parquet(spark, vt)
    source = vt.read().filter("id IN (1, 4)").withColumn("id", F.col("id") * 10)
    merge_into(vt, source.union(vt.read().filter("id = 3")), on=["id"],
               when_matched_update={"n": src("n")})
    _assert_reads_like_parquet(spark, vt)
    delete_from(vt, F.col("id") == 5)
    _assert_reads_like_parquet(spark, vt)
    vt.compact()
    _assert_reads_like_parquet(spark, vt)
    assert all("schema" in e for e in vt._read_log())


def test_log_without_schemas_still_reads(spark, vt):
    import json

    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    log = vt._read_log()
    for e in log:
        del e["schema"]  # the log format before schemas were recorded
    with open(vt._log_path, "w") as f:
        json.dump(log, f)
    _assert_reads_like_parquet(spark, vt)
    assert {r.id for r in vt.changes(1).collect()} == {2}


def test_range_mixing_schemas_reads_as_inferred(spark, vt):
    vt.append(_df(spark, [(1, "a")]))
    vt.append(spark.createDataFrame([(2, "b", 2.5)], "id int, v string, w double"))
    dirs = vt._dirs(0, vt.version)
    inferred = spark.read.parquet(*dirs)
    assert vt.read().schema == inferred.schema
    assert sorted(vt.read().collect()) == sorted(inferred.collect())


def test_reads_plan_without_spark_jobs(spark, vt, tmp_path, spark_jobs):
    """Building the DataFrame of a read runs no Spark job: the schema
    comes from the log, not from a parquet footer."""
    from databend_spark.streaming import DynamicTable, Stream

    vt.append(_df(spark, [(1, "a")]))
    vt.append(_df(spark, [(2, "b")]))
    stream = Stream(vt, "pin", at_version=1)
    dyn = DynamicTable(spark, vt, str(tmp_path / "mv"),
                       query=lambda df: df.groupBy("v").count(), mode="full")
    dyn.refresh()
    reads = {
        "read": vt.read,
        "read_version": lambda: vt.read(version=1),
        "changes": lambda: vt.changes(1),
        "stream": stream.read,
        "dynamic_full": dyn.read,
    }
    for name, build in reads.items():
        df, jobs = spark_jobs(build)
        assert jobs == [], name
        assert df.count() > 0, name


# -- commits write only what the snapshot needs -----------------------------


def _data_dirs(vt):
    import os

    return {d for d in os.listdir(vt.path) if not d.startswith("_")}


def test_compacting_one_file_version_commits_metadata_only(spark, vt, spark_jobs):
    vt.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    dirs, rows = _data_dirs(vt), sorted(vt.read().collect())
    v, jobs = spark_jobs(vt.compact)
    assert (v, jobs) == (2, [])
    assert vt.version == 2 and _data_dirs(vt) == dirs
    assert sorted(vt.read().collect()) == rows
    head, writer = vt._read_log()[-1], vt._read_log()[0]
    assert head["mode"] == "overwrite"
    assert (head["dir"], head["schema"]) == (writer["dir"], writer["schema"])


@pytest.mark.parametrize("case", ["append_chain", "cluster_by", "multi_file_dir"])
def test_compacting_a_version_that_is_not_one_file_rewrites(spark, vt, spark_jobs, case):
    rows = [(i, f"r{i}") for i in range(4)]
    if case == "append_chain":
        for r in rows:
            vt.append(_df(spark, [r]).coalesce(1))
    elif case == "cluster_by":
        vt.append(_df(spark, rows).coalesce(1))
    else:
        vt.overwrite(_df(spark, rows).repartition(4))
    dirs, head = _data_dirs(vt), vt.version
    cluster_by = ["id"] if case == "cluster_by" else None
    v, jobs = spark_jobs(lambda: vt.compact(cluster_by=cluster_by))
    assert v == head + 1
    if case == "cluster_by":  # the range sample and the shuffle run jobs too
        assert jobs
    else:
        assert len(jobs) == 1, jobs
    new_dirs = _data_dirs(vt) - dirs
    assert len(new_dirs) == 1
    assert vt._read_log()[-1]["dir"].endswith(new_dirs.pop())
    assert sorted(vt.read().collect()) == rows


def test_shared_dir_survives_vacuum_and_keeps_versions(spark, vt):
    from databend_spark.operators.mutations import update_table

    vt.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    vt.compact()                                    # v2 names v1's dir
    assert vt.vacuum(retain_last=1) == []           # v2 still reads it
    first_dir = vt._read_log()[0]["dir"]
    update_table(vt, F.col("id") == 2, {"v": F.lit("z")})   # v3
    vt.compact()                                    # v4 names v3's dir
    shared = vt._read_log()[-1]["dir"]
    assert vt.vacuum(retain_last=1) == [first_dir]  # named by v1 and v2, once
    assert [e["version"] for e in vt._read_log()] == [3, 4]
    for v in (3, 4):
        assert sorted(vt.read(version=v).collect()) == [(1, "a"), (2, "z")], v
    assert _data_dirs(vt) == {shared.rsplit("/", 1)[-1]}


def test_commit_dirs_have_no_success_marker(spark, vt):
    import os

    vt.append(_df(spark, [(1, "a")]))
    vt.overwrite(_df(spark, [(2, "b")]))
    for e in vt._read_log():
        assert not {"_SUCCESS", "._SUCCESS.crc"} & set(os.listdir(e["dir"]))


def test_failed_commit_removes_its_dir(spark, vt):
    vt.append(_df(spark, [(1, "a")]))
    dirs = _data_dirs(vt)
    bad = spark.range(3).select(
        F.col("id").cast("int"), F.raise_error(F.lit("boom")).cast("string").alias("v"))
    with pytest.raises(Exception, match="boom"):
        vt.append(bad)
    assert vt.version == 1
    assert _data_dirs(vt) == dirs
