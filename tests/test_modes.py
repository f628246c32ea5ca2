"""Replication-mode semantics (SURVEY §2.3 M1-M3) — DataFrame-level."""

import os
import re
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from replicadb_spark.modes import upsert_dataframe


def test_upsert_replaces_on_pk(spark):
    sink = spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "v", "n"])
    staging = spark.createDataFrame([(2, "B", 99), (4, "D", 40)], ["id", "v", "n"])
    out = upsert_dataframe(sink, staging, ["id"])
    got = {(r["id"], r["v"], r["n"]) for r in out.collect()}
    assert got == {(1, "a", 10), (2, "B", 99), (3, "c", 30), (4, "D", 40)}


def test_upsert_composite_pk(spark):
    sink = spark.createDataFrame([(1, 1, "x"), (1, 2, "y")], ["a", "b", "v"])
    staging = spark.createDataFrame([(1, 2, "Y"), (2, 1, "z")], ["a", "b", "v"])
    out = upsert_dataframe(sink, staging, ["a", "b"])
    got = {(r["a"], r["b"], r["v"]) for r in out.collect()}
    assert got == {(1, 1, "x"), (1, 2, "Y"), (2, 1, "z")}


def test_upsert_staging_dups_last_wins_deterministic(spark):
    # two staging rows with same PK: one survivor (staging priority over sink)
    sink = spark.createDataFrame([(1, "old")], ["id", "v"])
    staging = spark.createDataFrame([(1, "n1"), (1, "n2")], ["id", "v"])
    out = upsert_dataframe(sink, staging, ["id"]).collect()
    assert len(out) == 1
    assert out[0]["v"] in ("n1", "n2")  # deterministic tiebreak is PK-level


def test_upsert_single_shuffle_plan(spark):
    """The merge must shuffle once on the PK (union + window), not twice
    (join + union) — check the physical plan has exactly one Exchange."""
    sink = spark.range(100).withColumn("v", F.lit("a"))
    staging = spark.range(50).withColumn("v", F.lit("b"))
    plan = upsert_dataframe(sink, staging, ["id"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_incremental_file_mode_temp_swap(spark, tmp_path):
    """Incremental file merge must never overwrite the path its own plan
    reads (the recompute-from-half-overwritten-input hazard): the merge
    lands at a temp sibling first, then swaps. Verify merged contents and
    that the temp dir is gone."""
    import os

    from replicadb_spark.modes import run_file_mode

    class _Job:
        mode = "incremental"
        jobs = 4

    path = str(tmp_path / "sink")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]).write.parquet(path)
    delta = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    run_file_mode(spark, _Job(), delta, path=path, fmt="parquet", pk_columns=["id"])

    got = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    assert not os.path.exists(path + ".__replicadb_tmp__")

    # second merge over the swapped output still correct (path fully valid)
    delta2 = spark.createDataFrame([(3, "C"), (4, "d")], ["id", "v"])
    run_file_mode(spark, _Job(), delta2, path=path, fmt="parquet", pk_columns=["id"])
    got2 = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got2 == {(1, "a"), (2, "B"), (3, "C"), (4, "d")}


def test_file_incremental_fails_on_corrupt_sink(spark, tmp_path):
    """An unreadable sink must fail the job, not silently append past
    the PK merge (duplicate keys)."""
    import pytest

    from replicadb_spark.modes import run_file_mode
    from replicadb_spark.options import ReplicaJob

    sink = tmp_path / "corrupt_sink"
    sink.mkdir()
    (sink / "part-00000.parquet").write_bytes(b"not parquet at all")
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    job = ReplicaJob(
        source_connect="file:///dev/null", sink_connect=f"file://{sink}",
        mode="incremental",
    )
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        run_file_mode(spark, job, df, path=str(sink), fmt="parquet",
                      pk_columns=["id"])
    # the corrupt evidence was not clobbered
    assert (sink / "part-00000.parquet").read_bytes() == b"not parquet at all"


def _plan(df) -> str:
    """Physical plan with expression and plan ids blanked, so two frames
    built by separate calls compare equal when their shapes do."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", plan))


@contextmanager
def _job_group(sc, name):
    """Tag this thread's Spark jobs with group ``name``; yields a
    function returning the ids of the jobs run under it so far."""
    sc.setJobGroup(name, name)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_upsert_width_plan_below_gate(spark):
    """Below the size gate ``partitions`` turns the one PK shuffle into
    an explicit hash repartition to ``partitions`` that the window
    reuses — still exactly one Exchange — and the rows are the same."""
    sink = spark.range(100).withColumn("v", F.lit("a"))
    staging = spark.range(50, 150).withColumn("v", F.lit("b"))
    wide = upsert_dataframe(sink, staging, ["id"], partitions=4)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", _plan(wide))
    assert len(exchanges) == 1
    assert exchanges[0].endswith(", 4")
    assert wide.rdd.getNumPartitions() == 4
    default = upsert_dataframe(sink, staging, ["id"])
    assert sorted(wide.collect()) == sorted(default.collect())


def test_upsert_width_plan_above_gate_is_default_plan(spark):
    """Above the gate (sink + staging larger than partitions × AQE's
    advisory partition size) the plan is the partitions=None plan, and
    deciding that runs no Spark job."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    sink = spark.range(100).withColumn("v", F.lit("a"))
    staging = spark.range(50).withColumn("v", F.lit("b"))
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "16b")
    try:
        with _job_group(spark.sparkContext, "upsert-gate") as jobs:
            wide = upsert_dataframe(sink, staging, ["id"], partitions=4)
            assert jobs() == []
        assert _plan(wide) == _plan(upsert_dataframe(sink, staging, ["id"]))
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_gate_reads_on_disk_bytes_without_a_job(spark, tmp_path):
    """The gate's sizes come from relation stats: a parquet sink counts
    its listed file bytes, and reading them runs no Spark job."""
    from replicadb_spark.modes import _plan_bytes

    path = str(tmp_path / "sized")
    spark.range(1000).write.parquet(path)
    df = spark.read.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )
    with _job_group(spark.sparkContext, "plan-bytes") as jobs:
        assert _plan_bytes(df) == on_disk
        assert jobs() == []


# -- crash recovery of the temp-and-swap ------------------------------------

def _incremental_job(sink: str):
    from replicadb_spark.options import ReplicaJob

    return ReplicaJob(
        source_connect="file:///dev/null", sink_connect=f"file://{sink}",
        mode="incremental",
    )


def _stage_crash(spark, path: str, point: str) -> None:
    """Leave ``path`` as a crash at ``point`` of the swap would, with
    the prior version {1: a, 2: b} and the next version {1..3}:
    ``written`` — tmp committed, nothing renamed; ``aside`` — prior
    renamed to .old, committed tmp not yet renamed; ``aside_torn`` —
    the same with the tmp write cut short (no _SUCCESS); ``swapped`` —
    new version live, .old not yet deleted."""
    prior = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    nxt = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])
    tmp, old = path + ".__replicadb_tmp__", path + ".__replicadb_old__"
    prior.write.parquet(path)
    nxt.write.parquet(tmp)
    if point == "written":
        return
    shutil.move(path, old)
    if point == "aside":
        return
    if point == "aside_torn":
        os.remove(os.path.join(tmp, "_SUCCESS"))
        return
    shutil.move(tmp, path)  # "swapped"


@pytest.mark.parametrize("point,prior", [
    ("written", {(1, "a"), (2, "b")}),
    ("aside", {(1, "a"), (2, "b"), (3, "c")}),
    ("aside_torn", {(1, "a"), (2, "b")}),
    ("swapped", {(1, "a"), (2, "b"), (3, "c")}),
])
def test_file_merge_recovers_each_crash_point(spark, tmp_path, point, prior):
    """The next incremental run after a crash at any point of the swap
    merges over the full prior data — rolled forward from a committed
    tmp, else back from .old — and leaves no sibling behind. Between
    the two renames the sink path is absent: read as a first run, it
    would take only the batch, and the next swap would delete .old."""
    from replicadb_spark.modes import run_file_mode

    path = str(tmp_path / "sink")
    _stage_crash(spark, path, point)
    delta = spark.createDataFrame([(2, "B"), (4, "d")], ["id", "v"])
    run_file_mode(spark, _incremental_job(path), delta, path=path,
                  fmt="parquet", pk_columns=["id"])
    got = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == (prior - {(2, "b")}) | {(2, "B"), (4, "d")}
    assert os.listdir(tmp_path) == ["sink"]


def test_incremental_engine_run_job_count(spark, tmp_path):
    """Pin the Spark jobs of one incremental parquet ``engine.run`` on
    tiny data: the source and sink schema reads, the PK shuffle's map
    stage and the one write. A checkpoint-then-write pass would add
    jobs and fail here."""
    from replicadb_spark.engine import run
    from replicadb_spark.options import ReplicaJob

    sink, batch = str(tmp_path / "sink"), str(tmp_path / "batch")
    spark.range(100).selectExpr("id AS k", "CAST(id AS STRING) AS v").write.parquet(sink)
    spark.range(90, 110).selectExpr("id AS k", "'new' AS v").write.parquet(batch)
    job = ReplicaJob(
        source_connect=f"file://{batch}", source_file_format="parquet",
        sink_connect=f"file://{sink}", sink_file_format="parquet",
        sink_params={"pk.columns": "k"}, mode="incremental",
    )
    with _job_group(spark.sparkContext, "incremental-jobs") as jobs:
        res = run(spark, job)
        assert len(jobs()) == 4
    assert res.rows == 20
    # jobs = 4 merge tasks, one file each
    assert len([f for f in os.listdir(sink) if f.endswith(".parquet")]) == 4
    assert spark.read.parquet(sink).count() == 110
