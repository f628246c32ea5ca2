"""Engine — read → transform → write → merge → cleanup.

The Spark re-expression of ReplicaDB.executeReplication
(ReplicaDB.java:138-182) + ReplicaTask (ReplicaTask.java:29-80): the
thread pool becomes Spark's scheduler, the per-task connections become
per-partition reader/writer connections, and the row pump becomes a
Catalyst plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from replicadb_spark import registry
from replicadb_spark.options import ReplicaJob


@dataclass
class ReplicaResult:
    rows: int
    source_kind: str
    sink_kind: str
    mode: str


def read_source(spark: SparkSession, job: ReplicaJob) -> DataFrame:
    """Source dispatch (≈ ManagerFactory.accept for SOURCE)."""
    kind, scheme = registry.classify(job.source_connect)
    if kind == "jdbc":
        from replicadb_spark.sources.jdbc import read_jdbc

        return read_jdbc(spark, job)
    if kind == "file":
        from replicadb_spark.sources.files import read_file

        fmt = job.source_file_format or "csv"
        path = registry.file_path(job.source_connect)
        kwargs = {}
        if fmt == "csv":
            from replicadb_spark.sources.files import csv_options_from_format_params

            kwargs["dialect"] = job.source_params.get(
                "csv.format", job.source_params.get("format", "DEFAULT")
            )
            cols = job.source_column_list
            types_ = job.source_params.get("columns.types")
            if types_:
                kwargs["columns"] = cols
                kwargs["column_types"] = [t.strip() for t in types_.split(",")]
            elif cols:
                kwargs["columns"] = cols
            # reference format.* grammar, then direct spark-option spellings
            kwargs.update(csv_options_from_format_params(job.source_params))
            for opt in ("sep", "quote", "escape", "header", "nullValue"):
                if opt in job.source_params:
                    kwargs[opt] = job.source_params[opt]
        df = read_file(spark, path, fmt, **kwargs)
        return apply_row_filters(df, job)
    if kind == "mongodb":
        from replicadb_spark.sources.mongo import read_mongo

        db, coll = (job.source_table or "/").split(".", 1)
        return read_mongo(
            spark, job.source_connect, db, coll,
            pipeline=job.source_query,
            projection=job.source_column_list,
        )
    raise ValueError(f"unsupported source kind: {kind}")


def apply_row_filters(df: DataFrame, job: ReplicaJob) -> DataFrame:
    """source-where / source-columns for sources that didn't push them
    into the scan SQL (S13/S14). Declarative, so Catalyst pushes the
    filter and the pruned column set into the file scan — check
    ``PushedFilters``/``ReadSchema`` in .explain()."""
    out = df
    if job.source_where:
        out = out.where(job.source_where)
    cols = job.source_column_list
    if cols:
        out = out.select(*[F.col(c) for c in cols])
    return out


def write_sink(spark: SparkSession, job: ReplicaJob, df: DataFrame) -> None:
    """Sink dispatch + mode orchestration (≈ preSinkTasks / insertData /
    postSinkTasks lifecycle, ConnManager.java:247-259)."""
    sink_cols = job.sink_column_list
    if sink_cols:
        # sink.columns names the SINK's insert columns, mapped to the
        # source frame positionally (the reference builds
        # INSERT INTO sink(<sink.columns>) with source values in order,
        # SqlManager insert loop + getAllSinkColumns)
        if len(sink_cols) != len(df.columns):
            raise ValueError(
                f"sink.columns lists {len(sink_cols)} columns but the "
                f"source produces {len(df.columns)}"
            )
        df = df.toDF(*sink_cols)
    kind, scheme = registry.classify(job.sink_connect)
    if kind == "jdbc":
        from replicadb_spark.modes import run_jdbc_mode

        run_jdbc_mode(spark, job, df)
        return
    if kind == "file":
        from replicadb_spark.modes import run_file_mode

        fmt = job.sink_file_format or "csv"
        path = registry.file_path(job.sink_connect)
        pks = [c.strip() for c in job.sink_params.get("pk.columns", "").split(",") if c.strip()]
        # layout options, reachable from the properties surface like any
        # sink.connect.parameter.* (OptionsFile passthrough):
        #   partition.by=pt_col1,pt_col2   hive-style directory layout
        #   partition.overwrite=dynamic    replace only written partitions
        #   max.records.per.file=N         bound file sizes
        write_opts: dict = {}
        part_by = [
            c.strip()
            for c in job.sink_params.get("partition.by", "").split(",")
            if c.strip()
        ]
        if part_by:
            write_opts["partition_by"] = part_by
            if job.sink_params.get("partition.overwrite", "") == "dynamic":
                write_opts["dynamic_overwrite"] = True
        mrpf = job.sink_params.get("max.records.per.file", "")
        if mrpf:
            write_opts["max_records_per_file"] = int(mrpf)
        #   bucket.by=k1,k2 + bucket.count=N [+ bucket.sort.by=s1,...]
        #   → hash-bucketed table layout (co-located joins downstream;
        #   tests/test_bucketed_join.py pins the zero-shuffle contract).
        #   Registered as an external table named sink.table (or the
        #   path basename) over the sink path.
        bucket_by = [
            c.strip()
            for c in job.sink_params.get("bucket.by", "").split(",")
            if c.strip()
        ]
        if bucket_by:
            from replicadb_spark.sinks.files import (
                upsert_bucketed_table,
                write_bucketed_table,
            )

            # loud refusals over silent coercion (ADVICE r6): bucketBy
            # only exists for the splittable columnar formats, and the
            # flat-file layout knobs don't reach the bucketed writer
            if fmt not in ("parquet", "orc"):
                raise ValueError(
                    f"bucket.by requires sink.file.format=parquet or orc "
                    f"(got {fmt!r}); it will not be silently coerced"
                )
            if write_opts:
                raise ValueError(
                    "bucket.by does not compose with these sink options: "
                    + ", ".join(sorted(write_opts))
                )
            n_buckets = int(job.sink_params.get("bucket.count", "8"))
            sort_by = [
                c.strip()
                for c in job.sink_params.get("bucket.sort.by", "").split(",")
                if c.strip()
            ]
            table = job.sink_table or path.rstrip("/").rsplit("/", 1)[-1]
            table = "".join(ch if ch.isalnum() else "_" for ch in table)
            if job.mode == "incremental":
                # M3 composed with the bucketed layout: PK merge that
                # rewrites only the touched buckets (sinks/files.
                # upsert_bucketed_table)
                if not pks:
                    raise ValueError(
                        "incremental merge into a bucketed table needs "
                        "pk.columns on the sink"
                    )
                upsert_bucketed_table(
                    spark, df, table,
                    pk_columns=pks,
                    bucket_cols=bucket_by,
                    n_buckets=n_buckets,
                    sort_cols=sort_by or None,
                    fmt=fmt,
                    path=path,
                )
                return
            write_bucketed_table(
                df.repartition(n_buckets, *bucket_by),
                table,
                bucket_cols=bucket_by,
                n_buckets=n_buckets,
                sort_cols=sort_by or None,
                fmt=fmt,
                mode="overwrite",
                path=path,
            )
            return
        if fmt == "csv":
            # sink-side CSV format dialect/knobs (the reference reads the
            # same format.* grammar from the SINK connection params,
            # CsvFileManager.java:44-47)
            from replicadb_spark.sources.files import csv_options_from_format_params

            csv_opts = csv_options_from_format_params(job.sink_params)
            if "header" in csv_opts:
                write_opts["header"] = csv_opts.pop("header").lower() == "true"
            write_opts.update(csv_opts)
        run_file_mode(
            spark, job, df, path=path, fmt=fmt, pk_columns=pks or None, **write_opts
        )
        return
    if kind == "kafka":
        from replicadb_spark.sinks.kafka import write_kafka

        write_kafka(
            df,
            job.sink_params.get("bootstrap.servers", "localhost:9092"),
            job.sink_table or "replicadb",
            key_column=job.sink_params.get("key.column"),
        )
        return
    if kind == "mongodb":
        from replicadb_spark.sinks.mongo import write_mongo

        db, coll = (job.sink_table or "/").split(".", 1)
        write_mongo(
            df, job.sink_connect, db, coll,
            mode="overwrite" if job.mode == "complete" else "append",
        )
        return
    raise ValueError(f"unsupported sink kind: {kind}")


def run(spark: SparkSession, job: ReplicaJob) -> ReplicaResult:
    """Execute one replication job end-to-end."""
    from pyspark.sql import Observation

    df = read_source(spark, job)
    if job.bandwidth_throttling > 0:
        from replicadb_spark.throttle import throttled_arrow

        df = throttled_arrow(df, job.bandwidth_throttling)
    # Observation: row count collected DURING the write action — no
    # second pass over the source (the reference counts rows in its pump
    # loop for the same price, SqlManager insert loops).
    obs = Observation("replicadb_rows")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_sink(spark, job, df)
    # Every sink path runs at least one action over ``df`` (JDBC merges
    # load their staging table first), and the first one fills the
    # observation — an empty source included (count 0). ``get`` raises
    # only when the optimizer dropped the observed plan from the action,
    # which no sink path does: a bug to surface, never a row count.
    rows = int(obs.get["rows"])
    src_kind, _ = registry.classify(job.source_connect)
    sink_kind, _ = registry.classify(job.sink_connect)
    return ReplicaResult(rows=rows, source_kind=src_kind, sink_kind=sink_kind, mode=job.mode)


def main(argv: list[str] | None = None) -> int:
    """CLI entry point (≈ ReplicaDB.main, ReplicaDB.java:76-128).

    Exit codes mirror the reference: 0 success, 1 failure (the reference
    logs the exception and exits nonzero, ReplicaDB.java:120-127).
    """
    import sys

    from replicadb_spark.options import parse_args
    from replicadb_spark.session import get_spark

    job = parse_args(argv if argv is not None else sys.argv[1:])
    spark = get_spark("replicadb-spark-cli")
    try:
        run(spark, job)
    except Exception as exc:  # surface the first line, not a Py4J dump
        first = str(exc).strip().splitlines()
        print(f"replicadb-spark: ERROR: {first[0] if first else exc!r}", file=sys.stderr)
        if job.verbose:
            raise
        return 1
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
