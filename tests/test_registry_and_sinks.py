"""Registry dispatch, Kafka record encoding, S3 writers, throttling."""

import time

import pytest

from pyspark.sql import functions as F

from replicadb_spark import registry
from replicadb_spark.sinks.kafka import to_kafka_records
from replicadb_spark.sinks.s3 import rewrite_s3_url, write_object_per_row
from replicadb_spark.throttle import TokenBucket, throttled


def test_classify():
    assert registry.classify("jdbc:postgresql://h/db") == ("jdbc", "postgresql")
    assert registry.classify("file:///tmp/x") == ("file", "file")
    assert registry.classify("/tmp/bare/path") == ("file", "file")
    assert registry.classify("s3://bucket/key") == ("file", "s3")
    assert registry.classify("mongodb://h/db") == ("mongodb", "mongodb")
    assert registry.classify("kafka://broker:9092") == ("kafka", "kafka")
    with pytest.raises(ValueError):
        registry.classify("gopher://x")


def test_s3_url_rewrite():
    assert rewrite_s3_url("s3://b/k") == "s3a://b/k"
    assert rewrite_s3_url("/local/path") == "/local/path"


def test_kafka_record_encoding(spark):
    # KafkaManager.java:75-81,142-148: ISO dates, base64 binary
    import datetime

    df = spark.createDataFrame(
        [(1, "x", bytearray(b"hi"), datetime.datetime(2021, 1, 2, 3, 4, 5))],
        ["id", "s", "b", "ts"],
    )
    rec = to_kafka_records(df, key_column="id").first()
    assert rec["key"] == "1"
    assert '"b":"aGk="' in rec["value"]
    assert '"ts":"2021-01-02T03:04:05.000' in rec["value"]


def test_kafka_json_passthrough(spark):
    # single `json` column passes verbatim (KafkaManager.java:97-99)
    df = spark.createDataFrame([('{"a":1}',)], ["json"])
    rec = to_kafka_records(df).first()
    assert rec["value"] == '{"a":1}'


def test_s3_object_per_row(spark, tmp_path):
    # K10 (S3Manager.java:220-254): string (CLOB/XML) and binary bodies.
    # The fake client writes objects to disk so worker-side puts are
    # observable; defined locally so cloudpickle ships it by value.
    store = str(tmp_path)

    def factory():
        import os

        class FakeS3Client:
            def put_object(self, Bucket, Key, Body):
                p = os.path.join(store, Bucket, Key.replace("/", "__"))
                os.makedirs(os.path.dirname(p), exist_ok=True)
                with open(p, "wb") as fh:
                    fh.write(bytes(Body))

        return FakeS3Client()

    texts = spark.createDataFrame([("k1", "text body")], ["key", "content"])
    write_object_per_row(
        texts, "bkt", key_column="key", content_column="content",
        key_prefix="pre/", client_factory=factory,
    )
    blobs = spark.createDataFrame([("k2", bytearray(b"\x00\x01"))], ["key", "content"])
    write_object_per_row(
        blobs, "bkt", key_column="key", content_column="content",
        key_prefix="pre/", client_factory=factory,
    )
    assert (tmp_path / "bkt" / "pre__k1").read_bytes() == b"text body"
    assert (tmp_path / "bkt" / "pre__k2").read_bytes() == b"\x00\x01"


def test_token_bucket_caps_rate():
    # F2 (BandwidthThrottling.java:30-74): 10 KB/s cap, 30 KB request
    # after a 10 KB burst → ≥2s simulated sleep
    clock = {"t": 0.0}
    slept = []

    def fake_clock():
        return clock["t"]

    def fake_sleep(s):
        slept.append(s)
        clock["t"] += s

    bucket = TokenBucket(10, clock=fake_clock, sleep=fake_sleep)
    bucket.acquire(10 * 1024)           # drains the 1-second burst
    bucket.acquire(20 * 1024)           # must wait ~2s
    assert sum(slept) == pytest.approx(2.0, rel=0.05)


def test_throttled_iterator_passthrough():
    rows = list(throttled(iter(range(5)), kbps=10_000, row_bytes=1))
    assert rows == [0, 1, 2, 3, 4]


def test_throttled_arrow_caps_and_preserves(spark):
    """mapInArrow throttle: rows unchanged, wall time ≥ bytes/rate."""
    import time

    from replicadb_spark.throttle import throttled_arrow

    df = spark.range(0, 2000, 1, 2).selectExpr("id", "repeat('x', 100) AS pad")
    # ~2000 rows × ~110B ≈ 220KB; at 10000 KB/s cap this passes instantly
    out = throttled_arrow(df, 10_000)
    t0 = time.time()
    assert out.count() == 2000
    fast = time.time() - t0
    assert set(out.columns) == {"id", "pad"}
    assert fast < 30


def test_run_reports_row_count(spark, tmp_path):
    from replicadb_spark.engine import run
    from replicadb_spark.options import ReplicaJob

    src = str(tmp_path / "obs_src")
    spark.range(123).write.parquet(src)
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="parquet",
        sink_connect=f"file://{tmp_path}/obs_out", sink_file_format="parquet",
        mode="complete",
    )
    res = run(spark, job)
    assert res.rows == 123


def _run_with_timeout(fn, seconds=120):
    """``fn()`` in a worker thread: returns its result or re-raises its
    error; fails instead of hanging when it has not returned in time
    (``Observation.get`` blocks until an action fills it)."""
    import threading

    out = {}

    def target():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result in {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_run_reports_zero_rows_for_empty_source(spark, tmp_path):
    """A source filtered to nothing still runs the sink's write action
    over the observed plan, so the count is 0 — not a -1 sentinel and
    not a hang."""
    from replicadb_spark.engine import run
    from replicadb_spark.options import ReplicaJob

    src = str(tmp_path / "empty_src")
    spark.range(10).write.parquet(src)
    for mode in ("complete", "incremental"):
        job = ReplicaJob(
            source_connect=f"file://{src}", source_file_format="parquet",
            source_where="1 = 0", mode=mode,
            sink_connect=f"file://{tmp_path}/empty_out", sink_file_format="parquet",
            sink_params={"pk.columns": "id"},
        )
        assert _run_with_timeout(lambda: run(spark, job)).rows == 0


def test_run_raises_when_observation_is_lost(spark, tmp_path, monkeypatch):
    """A sink path whose action drops the observed plan (here: writes
    ``df.limit(0)``, which the optimizer folds to an empty relation)
    leaves the observation without metrics. That is a bug in the sink
    path and must raise, not turn into a row count."""
    from replicadb_spark import engine
    from replicadb_spark.options import ReplicaJob

    src = str(tmp_path / "lost_src")
    spark.range(10).write.parquet(src)
    out = str(tmp_path / "lost_out")
    monkeypatch.setattr(
        engine, "write_sink",
        lambda spark_, job_, df: df.limit(0).write.parquet(out),
    )
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="parquet",
        sink_connect=f"file://{out}", sink_file_format="parquet",
        mode="complete",
    )
    with pytest.raises(Exception):
        _run_with_timeout(lambda: engine.run(spark, job))


def test_classify_derby_and_dialect():
    from replicadb_spark.registry import classify
    from replicadb_spark.sql.dialects import dialect_from_url, merge_sql, MergeSpec

    assert classify("jdbc:derby:/tmp/db;create=true") == ("jdbc", "derby")
    assert dialect_from_url("jdbc:derby:/tmp/db") == "derby"
    sql = merge_sql("derby", MergeSpec("s", "stg", ["id", "v"], ["id"]))
    assert "USING stg src" in sql and "MERGE INTO s trg" in sql
