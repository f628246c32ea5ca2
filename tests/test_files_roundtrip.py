"""File source/sink round trips (S10/S11, K7/K8 + the formats the
reference declares but never implemented — parquet/json)."""

import pytest

from pyspark.sql import functions as F

from replicadb_spark.options import ReplicaJob
from replicadb_spark.engine import read_source, run
from replicadb_spark.sinks.files import write_file
from replicadb_spark.sources.files import CSV_DIALECTS, read_csv


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.25)],
        ["id", "name", "score"],
    )


@pytest.mark.parametrize("fmt", ["csv", "orc", "parquet", "json"])
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / f"out_{fmt}")
    write_file(sample, path, fmt, header=True)
    if fmt == "csv":
        back = read_csv(spark, path, header="true", inferSchema="true")
    else:
        back = spark.read.format(fmt).load(path)
    assert back.count() == 3
    assert {r["id"] for r in back.select("id").collect()} == {1, 2, 3}


def test_csv_declared_types(spark, tmp_path):
    # columns.types parity (CsvFileManager.java:215-220)
    p = tmp_path / "in.csv"
    p.write_text("1,x,2.5,true\n2,y,3.5,false\n")
    df = read_csv(
        spark, str(p),
        columns=["id", "name", "amount", "flag"],
        column_types=["INTEGER", "VARCHAR", "DECIMAL(10,2)", "BOOLEAN"],
    )
    assert [t for _, t in df.dtypes] == ["int", "string", "decimal(10,2)", "boolean"]
    assert df.where(F.col("flag")).count() == 1


def test_csv_dialect_presets_exist():
    # 11 predefined formats (CsvFileManager.java:38-201)
    for name in ("DEFAULT", "EXCEL", "MYSQL", "POSTGRESQL_CSV", "POSTGRESQL_TEXT", "TDF"):
        assert name in CSV_DIALECTS


def test_single_file_output(spark, sample, tmp_path):
    # K11/K12 merged-single-file behavior via coalesce(1)
    path = str(tmp_path / "single")
    write_file(sample, path, "csv", single_file=True)
    import glob
    parts = glob.glob(f"{path}/part-*")
    assert len(parts) == 1


def test_engine_file_to_file_complete(spark, tmp_path):
    """End-to-end engine.run: csv source → parquet sink, complete mode,
    with source-where + source-columns pushdown (entry point C, §3.3)."""
    src = tmp_path / "src.csv"
    src.write_text("id,name,score\n1,a,10\n2,b,20\n3,c,30\n")
    out = tmp_path / "out_pq"
    job = ReplicaJob(
        source_connect=f"file://{src}",
        sink_connect=f"file://{out}",
        source_file_format="csv",
        sink_file_format="parquet",
        source_where="score >= 20",
        source_columns="id,score",
        source_params={"header": "true"},
        mode="complete",
    )
    run(spark, job)
    back = spark.read.parquet(str(out))
    assert back.columns == ["id", "score"]
    assert back.count() == 2


def test_engine_file_incremental_upsert(spark, tmp_path):
    """Incremental mode on a file sink: PK upsert (M3 semantics)."""
    out = tmp_path / "sink_pq"
    base = spark.createDataFrame([(1, "old"), (2, "old")], ["id", "v"])
    write_file(base, str(out), "parquet")

    src = tmp_path / "delta.csv"
    src.write_text("id,v\n2,new\n3,new\n")
    job = ReplicaJob(
        source_connect=f"file://{src}",
        sink_connect=f"file://{out}",
        source_file_format="csv",
        sink_file_format="parquet",
        source_params={"header": "true"},
        sink_params={"pk.columns": "id"},
        mode="incremental",
    )
    run(spark, job)
    back = spark.read.parquet(str(out))
    assert {(r["id"], r["v"]) for r in back.collect()} == {(1, "old"), (2, "new"), (3, "new")}


def test_partitioned_write_layout_and_dynamic_overwrite(spark, tmp_path):
    from replicadb_spark.sinks.files import write_file

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "id long, pt string, v double"
    )
    out = str(tmp_path / "ptbl")
    write_file(df, out, "parquet", partition_by=["pt"])
    import os

    assert sorted(d for d in os.listdir(out) if d.startswith("pt=")) == ["pt=a", "pt=b"]
    # dynamic overwrite replaces ONLY partition a; b survives
    repl = spark.createDataFrame([(9, "a", 99.0)], "id long, pt string, v double")
    write_file(repl, out, "parquet", partition_by=["pt"], dynamic_overwrite=True)
    back = spark.read.parquet(out)
    got = {(r.id, r.pt) for r in back.collect()}
    assert got == {(9, "a"), (3, "b")}


def test_compact_files_preserves_rows(spark, tmp_path):
    from replicadb_spark.sinks.files import compact_files

    out = str(tmp_path / "frag")
    spark.range(10_000).repartition(64).write.parquet(out)
    import os

    n_before = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_before == 64
    n_target = compact_files(spark, out, "parquet", target_file_mb=1024)
    n_after = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert n_after == n_target == 1
    assert spark.read.parquet(out).count() == 10_000
    # the temp-and-swap cleans up: no temp or set-aside sibling left
    assert os.listdir(tmp_path) == ["frag"]


def test_engine_partitioned_sink_params(spark, tmp_path):
    """sink.connect.parameter.partition.by / max.records.per.file reach
    the file writer from the properties surface (engine → run_file_mode
    → write_file)."""
    import os

    src = tmp_path / "src.csv"
    src.write_text("id,pt\n1,a\n2,a\n3,b\n")
    out = tmp_path / "out_part"
    job = ReplicaJob(
        source_connect=f"file://{src}",
        sink_connect=f"file://{out}",
        source_file_format="csv",
        sink_file_format="parquet",
        source_params={"header": "true"},
        sink_params={"partition.by": "pt", "max.records.per.file": "10"},
        mode="complete",
    )
    run(spark, job)
    assert sorted(d for d in os.listdir(out) if d.startswith("pt=")) == ["pt=a", "pt=b"]
    assert spark.read.parquet(str(out)).count() == 3


def test_sink_columns_rename_positionally(spark, tmp_path):
    """sink.columns maps source columns to SINK column names in order
    (the reference's INSERT INTO sink(<sink.columns>) semantics)."""
    src = tmp_path / "sc.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    out = tmp_path / "sc_out"
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="csv",
        sink_connect=f"file://{out}", sink_file_format="parquet",
        sink_columns="sink_id,sink_name", mode="complete",
        source_params={"header": "true"},
    )
    from replicadb_spark.engine import run
    run(spark, job)
    got = spark.read.parquet(str(out))
    assert got.columns == ["sink_id", "sink_name"]
    assert got.count() == 2


def test_sink_columns_arity_mismatch_raises(spark, tmp_path):
    import pytest

    src = tmp_path / "sc2.csv"
    src.write_text("a,b\n1,x\n")
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="csv",
        sink_connect=f"file://{tmp_path}/sc2_out", sink_file_format="parquet",
        sink_columns="only_one", mode="complete",
        source_params={"header": "true"},
    )
    from replicadb_spark.engine import run
    with pytest.raises(ValueError, match="sink.columns"):
        run(spark, job)


def test_reference_format_grammar_source_and_sink(spark, tmp_path):
    """The reference's format / format.delimiter / format.nullString /
    format.firstRecordAsHeader connection-parameter grammar works on
    both sides (CsvFileManager.java:44-201)."""
    src = tmp_path / "fmt_src.csv"
    src.write_text("id|name\n1|alpha\n2|\\N\n")
    out = tmp_path / "fmt_out"
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="csv",
        sink_connect=f"file://{out}", sink_file_format="csv",
        mode="complete",
        source_params={
            "format.delimiter": "|",
            "format.nullString": "\\N",
            "format.firstRecordAsHeader": "true",
        },
        sink_params={
            "format.delimiter": ";",
            "format.nullString": "<NULL>",
            "format.firstRecordAsHeader": "false",
        },
    )
    run(spark, job)
    import glob
    lines = sorted(
        ln
        for f in glob.glob(f"{out}/part-*")
        for ln in open(f).read().splitlines()
    )
    assert lines == ["1;alpha", "2;<NULL>"]  # re-delimited, null re-encoded, no header


def test_format_preset_with_override(spark, tmp_path):
    from replicadb_spark.sources.files import csv_options_from_format_params

    opts = csv_options_from_format_params(
        {"format": "MYSQL", "format.delimiter": ","}
    )
    assert opts["sep"] == ","            # override wins
    assert opts["nullValue"] == "\\N"    # preset base survives
    assert opts["escape"] == "\\"


def test_incremental_swap_leaves_no_side_dirs(spark, tmp_path):
    import os

    out = tmp_path / "swap_pq"
    write_file(spark.createDataFrame([(1, "old")], ["id", "v"]), str(out), "parquet")
    src = tmp_path / "swap_delta.csv"
    src.write_text("id,v\n1,new\n")
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="csv",
        sink_connect=f"file://{out}", sink_file_format="parquet",
        source_params={"header": "true"}, sink_params={"pk.columns": "id"},
        mode="incremental",
    )
    run(spark, job)
    assert {r["v"] for r in spark.read.parquet(str(out)).collect()} == {"new"}
    leftovers = [d for d in os.listdir(tmp_path) if "__replicadb_" in d]
    assert leftovers == []


def test_engine_bucketed_sink_params(spark, tmp_path):
    """sink.connect.parameter.bucket.by/bucket.count reach the bucketed
    table writer: the sink lands as an external hash-bucketed table
    whose metadata downstream joins can exploit (zero-shuffle contract
    pinned in tests/test_bucketed_join.py)."""
    src = tmp_path / "bsrc.csv"
    src.write_text("id,v\n" + "".join(f"{i},{i*10}\n" for i in range(20)))
    out = tmp_path / "out_bucketed"
    spark.sql("DROP TABLE IF EXISTS out_bucketed")
    job = ReplicaJob(
        source_connect=f"file://{src}",
        sink_connect=f"file://{out}",
        source_file_format="csv",
        sink_file_format="parquet",
        source_params={"header": "true"},
        sink_params={"bucket.by": "id", "bucket.count": "4",
                     "bucket.sort.by": "id"},
        mode="complete",
    )
    try:
        run(spark, job)
        desc = spark.sql("DESCRIBE TABLE EXTENDED out_bucketed").collect()
        props = {r["col_name"]: r["data_type"] for r in desc}
        assert props.get("Num Buckets") == "4"
        assert "id" in props.get("Bucket Columns", "")
        assert spark.table("out_bucketed").count() == 20
        assert spark.read.parquet(str(out)).count() == 20  # external path
    finally:
        spark.sql("DROP TABLE IF EXISTS out_bucketed")


def test_engine_bucketed_incremental_upserts(spark, tmp_path):
    """bucket.by + mode=incremental runs the PK merge into the bucketed
    layout (VERDICT r6 item 3): updates replace, inserts land, untouched
    rows survive. Bucket-touch granularity is pinned in
    tests/test_bucketed_upsert.py."""
    out = tmp_path / "bi_out"
    spark.sql("DROP TABLE IF EXISTS bi_out")

    def job(src):
        return ReplicaJob(
            source_connect=f"file://{src}", source_file_format="csv",
            sink_connect=f"file://{out}", sink_table="bi_out",
            sink_file_format="parquet", mode="incremental",
            source_params={"header": "true"},
            sink_params={"bucket.by": "id", "bucket.count": "4",
                         "pk.columns": "id"},
        )

    s0 = tmp_path / "bi0.csv"
    s0.write_text("id,v\n" + "".join(f"{i},{i*10}\n" for i in range(8)))
    s1 = tmp_path / "bi1.csv"
    s1.write_text("id,v\n3,333\n99,990\n")
    try:
        run(spark, job(s0))
        run(spark, job(s1))
        got = {r["id"]: r["v"] for r in spark.table("bi_out").collect()}
        want = {i: i * 10 for i in range(8)} | {3: 333, 99: 990}
        assert got == want
        desc = spark.sql("DESCRIBE TABLE EXTENDED bi_out").collect()
        props = {r["col_name"]: r["data_type"] for r in desc}
        assert props.get("Num Buckets") == "4"  # layout survives the merge
    finally:
        spark.sql("DROP TABLE IF EXISTS bi_out")


def test_engine_bucketed_incremental_needs_pks(spark, tmp_path):
    """incremental into a bucketed table WITHOUT pk.columns would append
    duplicates past the merge — refused loudly."""
    src = tmp_path / "bi.csv"
    src.write_text("id,v\n1,10\n")
    job = ReplicaJob(
        source_connect=f"file://{src}", source_file_format="csv",
        sink_connect=f"file://{tmp_path / 'bi_nopk'}",
        sink_file_format="parquet", mode="incremental",
        source_params={"header": "true"},
        sink_params={"bucket.by": "id"},
    )
    with pytest.raises(ValueError, match="pk.columns"):
        run(spark, job)


def test_engine_bucketed_sink_refuses_bad_format_and_options(spark, tmp_path):
    """ADVICE r6: bucket.by with a non-columnar format or flat-file
    layout options raises instead of silently coercing/dropping."""
    src = tmp_path / "bf.csv"
    src.write_text("id,v\n1,10\n")

    def job(fmt, extra):
        return ReplicaJob(
            source_connect=f"file://{src}", source_file_format="csv",
            sink_connect=f"file://{tmp_path / 'bf_out'}",
            sink_file_format=fmt, mode="complete",
            source_params={"header": "true"},
            sink_params={"bucket.by": "id", **extra},
        )

    with pytest.raises(ValueError, match="parquet or orc"):
        run(spark, job("csv", {}))
    with pytest.raises(ValueError, match="max.records.per.file"):
        run(spark, job("parquet", {"max.records.per.file": "100"}))
    with pytest.raises(ValueError, match="partition_by"):
        run(spark, job("parquet", {"partition.by": "v"}))
